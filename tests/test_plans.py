"""Physical-plan audits for the headline queries: the scale claims the
docstrings make (pushdown, pruning, broadcast, top-k, codegen) asserted
against the actual executed plans — not trusted.

These are the checks behind '.explain("formatted") and iterate': a
regression that silently drops a filter below a join, reads extra
columns, or turns a broadcast into a shuffle fails here at sf0.001
instead of surfacing as a 100 TB incident.
"""

from __future__ import annotations

from etl_mudah_spark.plans import registry
from tests.conftest import SF_SMOKE


def _plan(spark, name: str, execute: bool = False) -> str:
    df = registry.REGISTRY[name].spark_fn(spark, SF_SMOKE)
    if execute:
        # AQE finalizes the plan (and stamps WholeStageCodegen ids)
        # only once the query has run
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary", execute=True)
    # the shipdate filter reaches the parquet scan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan must not read l_orderkey (unused)
    scan = plan[plan.index("ReadSchema"):][:400]
    assert "l_quantity" in scan and "l_orderkey" not in scan
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2
    # '*(n)' prefixes = operators fused into WholeStageCodegen stages
    assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_region_revenue_broadcasts_dims(spark):
    plan = _plan(spark, "region_revenue")
    assert "BroadcastHashJoin" in plan
    # the fact table must NOT be on a broadcast side: no broadcast of
    # a scan over orders/lineitem-sized inputs (dims here are
    # region/nation/customer)
    assert "SortMergeJoin" not in plan or "ShuffledHashJoin" not in plan


def test_top_brands_uses_takeordered(spark):
    # top-k must be TakeOrdered (partial per partition), not a global
    # sort followed by limit
    plan = _plan(spark, "top_brands")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")


def test_filter_stack_pushdown(spark):
    plan = _plan(spark, "filter_stack_metrics")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    # range + IN-list predicates reach the scan
    assert "GreaterThan" in pushed or "In(" in pushed or "IsNotNull" in pushed


def test_state_market_stats_broadcasts_geo_dim(spark):
    plan = _plan(spark, "state_market_stats")
    assert plan.count("BroadcastHashJoin") >= 2  # nation dim + geo dim


def test_doc_chunks_is_map_only(spark):
    # chunking must not shuffle: no Exchange in the plan at all
    plan = _plan(spark, "doc_chunks")
    assert "Exchange" not in plan


def test_salted_event_totals_no_extra_scan(spark):
    # two-phase salted agg: exactly two HashAggregate pairs, one scan
    plan = _plan(spark, "salted_event_totals")
    assert plan.count("Scan parquet") == 1


def test_exact_cosine_twin_guard_trips_at_scale(spark, monkeypatch):
    # emb_cosine_near_dup is the all-pairs oracle twin; above the row
    # guard it must refuse to plan rather than launch an O(n^2) join.
    import pytest

    from etl_mudah_spark.plans import datapipe

    monkeypatch.setattr(datapipe, "_EXACT_PAIRS_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="verification-only"):
        datapipe.emb_cosine_near_dup(spark, SF_SMOKE)


def test_ngram_jaccard_registered_form_is_df_capped(spark):
    # the registered query must carry the inverted-index df cutoff: the
    # plan joins the shingle index against the rare-shingle filter, so
    # a count-based aggregate feeds the index join (unbounded form has
    # no such aggregate before the pair join).
    plan = _plan(spark, "doc_ngram_jaccard")
    assert plan.count("HashAggregate") >= 4  # df filter + sizes + common + partials


def test_emb_label_centroids_long_form_and_assembly(spark):
    """Long-form output is scalar-only (driver-canonicalizer-safe) and
    centroid_assemble reconstructs position-ordered arrays from it."""
    from etl_mudah_spark.plans.llmprep import centroid_assemble

    per = registry.REGISTRY["emb_label_centroids"].spark_fn(spark, SF_SMOKE)
    assert [f.dataType.simpleString() for f in per.schema.fields] == [
        "int", "int", "double"
    ]
    wide = {r["label"]: r for r in centroid_assemble(per).collect()}
    long_rows = per.collect()
    dims = {}
    for r in long_rows:
        dims.setdefault(r["label"], set()).add(r["pos"])
    for label, row in wide.items():
        assert row["dim"] == len(dims[label])
        # array is ordered by pos: spot-check against the long form
        by_pos = {r["pos"]: r["centroid_val"] for r in long_rows if r["label"] == label}
        assert row["centroid"] == [by_pos[p] for p in sorted(by_pos)]


def test_doc_shard_pack_window_is_partitioned(spark):
    """The packing window must hash-partition by source — a global
    (single-partition) window would serialize the whole corpus through
    one task at scale."""
    plan = _plan(spark, "doc_shard_pack")
    assert "hashpartitioning(source" in plan
    assert "Exchange SinglePartition" not in plan


def test_doc_train_split_is_map_plus_one_agg_shuffle(spark):
    """Split assignment is a pure projection; the only exchange is the
    3-group aggregation (plus AQE's final sort for the orderBy)."""
    plan = _plan(spark, "doc_train_split")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_balance_deciles_window_is_partitioned(spark):
    """Round-5 de-scale-kill: the decile assignment must come from the
    two-phase bucketed rank, never a global NTILE — the only window
    over customer rows is hash-partitioned by the balance bucket. (The
    cumsum window over the ~11k bucket-count rows is the one permitted
    SinglePartition exchange — it runs on aggregated data, not the
    table.)"""
    plan = _plan(spark, "customer_balance_deciles")
    assert "ntile" not in plan.lower()
    assert "hashpartitioning(_bk" in plan


def test_fuzzy_pairs_hot_block_is_excluded(spark):
    """A block larger than max_block must be dropped entirely (bounded
    per-block pair work), while small blocks still pair — pinned on a
    skewed fixture where one noun owns most rows."""
    from etl_mudah_spark.plans.parity import _fuzzy_name_pairs

    rows = [(i, "prefix hot suffix%d" % (i % 7)) for i in range(40)]
    rows += [(100, "alpha cold beta"), (101, "alpha cold betaX")]
    part = spark.createDataFrame(rows, "p_partkey int, p_name string")
    got = {r["noun"]: r for r in _fuzzy_name_pairs(part, max_block=10).collect()}
    assert "hot" not in got, "hot block must be excluded, not paired"
    assert got["cold"]["n_pairs"] == 1 and got["cold"]["n_dist1"] == 1


def test_pareto_running_sum_is_partitioned(spark):
    """parts_pareto_80's cumulative revenue must come from the bucketed
    two-phase running sum — the only full-width window hash-partitions
    by the revenue bucket; no partitionless window over per-part rows."""
    plan = _plan(spark, "parts_pareto_80")
    assert "hashpartitioning(_bk" in plan


def test_q7_q8_broadcast_the_dimension_sides(spark):
    """The round-5 TPC-H shapes must probe broadcast dims, not shuffle
    them: nation (and supplier for Q8) ride BroadcastExchange/
    BroadcastHashJoin; the only shuffle joins are fact-to-fact."""
    q7 = _plan(spark, "nation_pair_trade_volume")
    assert "BroadcastHashJoin" in q7
    q8 = _plan(spark, "nation_market_share_in_region")
    assert "BroadcastHashJoin" in q8


def test_bm25_filters_terms_before_shuffle_and_takes_ordered(spark, monkeypatch):
    """doc_bm25_search's scale claims: the query-term IN-filter sits
    directly on the exploded tokens (the grouped relation is O(matching
    doc-terms), not O(corpus tokens)), corpus stats broadcast, and the
    final ranking is TakeOrdered, not sort+limit.

    Round 15: tf rides a materialize-once boundary (one tokenize pass
    for its two consumers), so the final plan shows the ExistingRDD
    boundary instead of a corpus scan per consumer, and the IN-filter
    is pinned on the subtree the registered query actually hands to
    that boundary."""
    from etl_mudah_spark.plans import llmprep

    materialized = []
    orig = llmprep._materialize_once

    def capture(df):
        materialized.append(df)
        return orig(df)

    monkeypatch.setattr(llmprep, "_materialize_once", capture)
    plan = _plan(spark, "doc_bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # per-term df joins broadcast
    assert "ExistingRDD" in plan  # tf materialized once, not per consumer

    assert len(materialized) == 1, "one materialize-once boundary (tf)"
    tf_plan = materialized[0]._jdf.queryExecution().executedPlan().toString()
    filt = [
        l
        for l in tf_plan.splitlines()
        if "Filter" in l and "IN (spark,window,merge)" in l
    ]
    assert filt, "query-term IN-list filter missing from the tf subtree"


def test_driver_window_is_exactly_50_registered_names(spark):
    """The grading driver records the FIRST 50 registered queries; the
    _PRIORITY list controls membership explicitly. Guard the contract:
    exactly 50 names, all registered, window == priority order, and
    every window query carries an oracle."""
    from etl_mudah_spark.plans import _PRIORITY

    names = list(registry.REGISTRY)
    assert len(_PRIORITY) == 50
    assert names[:50] == _PRIORITY
    missing_oracle = [n for n in names[:50] if registry.REGISTRY[n].oracle is None]
    assert not missing_oracle, missing_oracle


def test_q10_aggregates_before_customer_payload_join(spark):
    """returned_item_customers: the custkey groupBy must sit BELOW the
    customer join (the shuffle carries revenue partials, not the
    customer payload), and both scans carry their pushed filters."""
    plan = _plan(spark, "returned_item_customers")
    # returnflag + date filters reach the scans
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan and "o_orderdate" in plan
    # the revenue aggregate groups on o_custkey, and NO HashAggregate
    # anywhere carries the customer payload (c_name/c_acctbal …) in its
    # keys or expressions — i.e. the join that brings in the payload
    # sits strictly ABOVE every aggregate, so the agg shuffle moves
    # revenue partials, not customer attributes
    agg_lines = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    assert agg_lines, plan
    assert any("o_custkey" in ln for ln in agg_lines), agg_lines
    payload = ("c_name", "c_acctbal", "c_address", "c_phone", "c_comment")
    offenders = [ln for ln in agg_lines if any(c in ln for c in payload)]
    assert not offenders, offenders
    assert "TakeOrderedAndProject" in plan


def test_q9_broadcasts_all_dimension_sides(spark):
    """part_profit_by_nation_year: part (pre-filtered), supplier, and
    nation all ride broadcast joins; no dimension ends up shuffled."""
    plan = _plan(spark, "part_profit_by_nation_year")
    assert plan.count("BroadcastHashJoin") >= 3
    # the substring predicate is applied at the part scan, below the
    # join: Contains(p_name, widget) in the part leg's Filter/DataFilters
    assert "Contains(p_name" in plan and "widget" in plan


def test_repeated_spans_windows_are_doc_partitioned(spark):
    """doc_repeated_spans: the gaps-and-islands window partitions by
    doc_id — never an unpartitioned corpus-wide sort."""
    plan = _plan(spark, "doc_repeated_spans")
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan


def test_surprisal_broadcasts_vocab_and_total(spark):
    """doc_unigram_surprisal: the (term, freq) vocabulary and the 1-row
    total both broadcast back onto the token stream — the corpus-sized
    side is never shuffled for the join."""
    plan = _plan(spark, "doc_unigram_surprisal")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total crossJoin
    assert "SortMergeJoin" not in plan


def test_token_budget_mix_scans_corpus_without_shuffling_it(spark):
    """doc_token_budget_mix: the only exchanges are the tiny totals agg
    and the final per-source agg — the doc rows themselves join the
    broadcast totals map-side."""
    plan = _plan(spark, "doc_token_budget_mix")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_filtered_indexed_prunes_partitions(spark):
    """ann_filtered_indexed: the index scan must carry BOTH predicates
    — ``cell IN (probes)`` as a PartitionFilter (planning-time pruning:
    unmatched IVF cells never listed or opened) and the label equality
    as a pushed data filter — and the probe must ride a broadcast, not
    a shuffle."""
    plan = _plan(spark, "ann_filtered_indexed")
    # partition pruning on the IVF cell layout: SOME scan carries a
    # cell IN (...) PartitionFilter (the probe/centroid scans are
    # unpartitioned and rightly show an empty one)
    pfs = [seg[:200] for seg in plan.split("PartitionFilters:")[1:]]
    assert any("cell" in pf and "IN" in pf.upper() for pf in pfs), pfs
    # label predicate pushed into the surviving files' scan
    pushed = [seg[:200] for seg in plan.split("PushedFilters:")[1:]]
    assert any("label" in p for p in pushed), pushed
    # probe folded in as a broadcast 1-row relation; the exact scoring
    # ends in TakeOrdered, never a global sort
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_bpe_token_stats_is_map_only_arrow(spark):
    """doc_bpe_token_stats: the tokenizer apply is one Arrow-batched
    map pass — no shuffle anywhere (the 100 TB contract: a tokenizer
    pass is embarrassingly parallel scan work), and the UDF runs via
    ArrowEvalPython, never row-at-a-time BatchEvalPython."""
    plan = _plan(spark, "doc_bpe_token_stats")
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_q6_is_a_pure_pushed_down_scan(spark):
    """forecast_revenue_change (TPC-H Q6): every predicate reaches the
    parquet scan, the only exchange is the 1-row final aggregate, and
    the scan reads just the four referenced columns."""
    plan = _plan(spark, "forecast_revenue_change", execute=True)
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    scan = plan[plan.index("ReadSchema"):][:400]
    assert "l_extendedprice" in scan and "l_orderkey" not in scan
    # the only exchange is the 1-row final-aggregate gather (the AQE
    # plan text repeats sections, so assert by KIND, not by count)
    assert "Exchange SinglePartition" in plan
    assert "Exchange hashpartitioning" not in plan


def test_q20_broadcasts_the_filtered_part_dim(spark):
    """promotable_widget_suppliers: the widget part list broadcasts
    (the lineitem side must never build a broadcast), and the
    threshold semi-join up to supplier is a LeftSemi."""
    plan = _plan(spark, "promotable_widget_suppliers")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_ivm_refresh_shuffles_only_aggregate_sized_data(spark):
    """orders_priority_agg_ivm: the diff join carries key+hash+images,
    and every aggregation shows map-side partials (no raw-fact global
    shuffle beyond the diff's own full-outer join)."""
    plan = _plan(spark, "orders_priority_agg_ivm")
    assert "FullOuter" in plan  # the CDC diff join
    assert plan.count("HashAggregate") >= 4  # partial+final per agg level
    assert "CartesianProduct" not in plan


def test_session_concurrency_joins_on_the_bin_grid(spark):
    """events_session_concurrency: the interval self-join must be an
    equi-join on the bin column (hashpartitioning on _bin), with the
    JVM session_window doing the sessionization."""
    plan = _plan(spark, "events_session_concurrency")
    assert "session_window" in plan
    assert "_bin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ann_plan_builds_use_footer_counts_not_jobs(spark):
    """VERDICT r10 item 6: the ANN query constructors must not run
    corpus-scan .count()/.first() jobs just to size sample_mod /
    shortlists — corpus cardinality comes from parquet footer metadata
    (tables.table_num_rows, a driver-side pyarrow read). Two pins:
    (1) the footer count equals the Spark count (same numbers, zero
    jobs); (2) source inspection — the constructors reference
    table_num_rows and carry no bare corpus .count() probe. Round 12
    closed the last exception: ann_pq_filtered_topk's FILTERED stratum
    count now comes from the index's persisted _strata metadata
    (similarity.index_stratum_count), written at build/append time."""
    import inspect

    from etl_mudah_spark.plans import datapipe as dp
    from etl_mudah_spark.tables import load, table_num_rows

    sf = "/root/testdata/sf0.001"
    assert table_num_rows(sf, "embeddings") == load(
        spark, sf, "embeddings"
    ).count()

    count_free = [
        dp.ann_recall_at_k,
        dp.ann_ivfpq_maintained,
        dp.ann_pq_topk,
        dp.ann_ivfpq_topk,
        dp.ann_ivfpq_filtered_topk,
        dp.ann_pq_filtered_topk,
        dp.emb_cosine_near_dup,
    ]
    for fn in count_free:
        src = inspect.getsource(fn)
        assert "table_num_rows" in src, fn.__name__
        assert "emb.count()" not in src and ".where(pred).count()" not in src, (
            f"{fn.__name__} re-grew an eager corpus count during plan build"
        )
    # the filtered stratum count reads persisted index metadata
    src = inspect.getsource(dp.ann_pq_filtered_topk)
    assert "index_stratum_count" in src


def test_big_orders_preagg_reuses_rollup_scratch(spark):
    """VERDICT r12 item 7: the registered preagg query stands in for a
    maintained layout table — repeated invocation in one session must
    reuse one scratch rollup, not leak a dir per call."""
    import glob
    import os

    from etl_mudah_spark import session

    def owned():
        root = session._SCRATCH_ROOT or ""
        return set(glob.glob(os.path.join(root, "big_orders_preagg_*")))

    fn = registry.REGISTRY["big_orders_preagg"].spark_fn
    before = owned()
    r1 = fn(spark, SF_SMOKE).collect()
    mid = owned() - before
    r2 = fn(spark, SF_SMOKE).collect()
    after = owned() - before
    # <= 1: an earlier test in the same session may already have
    # populated the per-(application, sf_dir) cache — then BOTH calls
    # reuse it and stage nothing, which is exactly the contract.
    assert len(mid) <= 1, f"first call staged more than one dir: {mid}"
    assert after == mid, f"second call leaked scratch: {after - mid}"
    assert r1 == r2


def test_q18_rollup_cache_invalidates_on_restage(spark, tmp_path):
    """ADVICE r13: a restaged sf_dir (ingest rewriting the same path
    within one application) must REBUILD the rollup, not serve results
    from the stale one — the cache key carries a lineitem file
    fingerprint (count, bytes, max mtime)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from etl_mudah_spark.plans import starjoins as sj

    sf = str(tmp_path)
    for t in ("lineitem", "orders", "customer"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    fn = registry.REGISTRY["big_orders_preagg"].spark_fn
    r1 = fn(spark, sf).collect()
    fp1 = sj._lineitem_fingerprint(sf)
    _, stale = sj._q18_rollup(spark, sf)

    # restage: halve lineitem in place (same path, new content)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    half = li.where(F.col("l_orderkey") % 2 == 0)
    half.write.mode("overwrite").parquet(f"{sf}/li_new.parquet")
    os.remove(f"{sf}/lineitem.parquet")
    shutil.move(f"{sf}/li_new.parquet", f"{sf}/lineitem.parquet")

    fp2 = sj._lineitem_fingerprint(sf)
    assert fp1 != fp2, "fingerprint must change on restage"
    r2 = fn(spark, sf).collect()
    want = registry.REGISTRY["big_orders"].spark_fn(spark, sf).collect()
    assert r2 == want
    assert r1 != r2, "halved lineitem must change the top-20"
    _, fresh = sj._q18_rollup(spark, sf)
    assert fresh != stale and not os.path.exists(stale), (
        "the rebuild must remove the stale rollup"
    )
