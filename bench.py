#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (plan build + execution + a count-style
materialization) after a warm-up query primes the JVM/codegen.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))

import etl_mudah_spark.plans  # noqa: F401
from etl_mudah_spark.operators.merge import merge_upsert
from etl_mudah_spark.plans import registry
from etl_mudah_spark.session import get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Median-of-N timing (round 5; was best-of-3): per-query SESSION noise
# at sub-second magnitudes measured ±30% across rounds, which made
# regression attribution guesswork — the median of 5 is stable to ~10%
# between sessions while still absorbing warm-up stragglers.
N_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

# Headline set: the queries whose shape dominates 100 TB workloads —
# full-scan agg, star join, window, dedup sketching, ANN.
HEADLINE = [
    "pricing_summary",
    "region_revenue",
    "top_customers",
    "price_segments",
    "keep_one_per_order",
    "top3_orders_per_customer",
    "shipping_priority",
    "big_orders",
    "events_hourly",
    "events_sessionize",
    "doc_minhash_near_dup",
    "doc_token_stats",
    "ann_bruteforce_topk",
    "emb_cosine_near_dup_lsh",
]


def _minhash_production(spark, sf_dir: str):
    from etl_mudah_spark.operators import dedup as dd
    from etl_mudah_spark.tables import load

    return dd.minhash_near_duplicates(
        load(spark, sf_dir, "documents"), num_hashes=32, bands=8, threshold=0.2
    )


def _lsh_cosine_production(spark, sf_dir: str):
    from etl_mudah_spark.operators import similarity as sim
    from etl_mudah_spark.plans.datapipe import EMB_DIM
    from etl_mudah_spark.tables import load

    # max_bucket_size=64: the hot-bucket guardrail (VERDICT r6 item 2).
    # At sf0.1 the largest (table, bucket) holds 40 rows, so the cap
    # never binds and the base point is identical to the uncapped
    # series; at the x10 point the uniform synthetic embeddings push
    # every bucket past it and the cap bounds the otherwise ~n²
    # candidate volume (measured 67 s -> 12 s at 20k uniform vectors).
    return sim.cosine_near_duplicates(
        load(spark, sf_dir, "embeddings"),
        threshold=0.45,
        target_recall=0.95,
        max_tables=96,
        dim=EMB_DIM,
        max_bucket_size=64,
    )


# Round 5 turned the registered sketch queries into invariant harnesses
# that ALSO run an exact verification twin — correct for the driver's
# hash check, wrong for throughput measurement. The bench times the
# production operators themselves (the plans a user runs at scale),
# keeping the series comparable with rounds 1-4.
BENCH_FNS = {
    "doc_minhash_near_dup": _minhash_production,
    "emb_cosine_near_dup_lsh": _lsh_cosine_production,
}

# Second measured set (VERDICT r10 item 7): the 14 headliners cover the
# TPC-H/star/stream classes, but 200+ registered queries — the LLM-prep
# and eval tiers especially — previously had NO wall-time series, so a
# perf regression there surfaced only if correctness broke. Two reps
# each at the x10 staged point (one rep measured ±50%+ sampling swings
# on the sub-5s queries, BASELINE.md §18; these run as registered,
# verification twins included — this series tracks REGRESSION, not
# peak throughput; set SPARK_GRAFT_BENCH_SET2=0 to skip). Failures are
# recorded per-query, never fatal to the record.
HEADLINE2 = [
    "corpus_prep_e2e",
    "doc_bm25_search",
    "doc_tfidf_similar",
    "part_golden_records",
    "doc_quality_auc",
    "doc_exact_dedup",
    "doc_decontaminate",
    "doc_shard_pack_bpe",
    "doc_token_budget_mix",
    "doc_pii_scrub",
    # batch-retrieval tripwire (VERDICT r13 item 5): the 5x batch_topk
    # win of round 13 had no wall-time series that would catch its
    # regression — this is the heaviest batch_topk consumer (25-anchor
    # leave-one-out kNN vote, one corpus pass).
    "emb_knn_label_agreement",
]


def bench_merge_upsert(spark, sf_dir: str) -> float:
    """Time the S7 merge/upsert write path (operators/merge.py): merge a
    staged batch (latest order-year repriced + 1000 brand-new keys) into
    a year-partitioned copy of ``orders``.

    The batch touches ONE partition of eight, so the timed region
    exercises the whole production shape: batch-partition semi-scan,
    key-shuffle merge window, staged write, dynamic partition overwrite.
    Table setup/reset runs OUTSIDE the timer each rep (the merge mutates
    its target, so every rep needs a fresh copy).
    """
    from pyspark.sql import functions as F

    from etl_mudah_spark.tables import load

    orders = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    max_year, max_key = orders.agg(
        F.max("o_year"), F.max("o_orderkey")
    ).first()
    batch_ts = datetime(2026, 1, 1)
    # Staged batch: every latest-year order repriced +5%, plus 1000 new
    # synthetic keys — the reference's daily-scrape shape (update-heavy,
    # some inserts, one hot partition).
    repriced = orders.where(F.col("o_year") == max_year).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") * 1.05, 2)
    )
    # Deterministic insert rows (orderBy before limit), offset past the
    # true max key — a fixed +10M constant collides with real keys at
    # sf>=2 and would silently stop exercising the insert path.
    new_keys = repriced.orderBy("o_orderkey").limit(1000).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(int(max_key) + 1)
    )
    staged = repriced.unionByName(new_keys)
    staged.cache().count()  # staged batch is input, not the thing timed

    scratch = tempfile.mkdtemp(prefix="bench_merge_")
    table = f"{scratch}/orders_tbl"
    best = float("inf")
    try:
        for _ in range(N_REPS):
            shutil.rmtree(table, ignore_errors=True)
            orders.write.mode("overwrite").partitionBy("o_year").parquet(table)
            t0 = time.perf_counter()
            merge_upsert(
                spark,
                staged,
                table,
                key_cols=["o_orderkey"],
                order_cols=["o_orderdate", "o_orderkey"],
                partition_col="o_year",
                created_col=None,
                updated_col=None,
                batch_ts=batch_ts,
            )
            best = min(best, time.perf_counter() - t0)
    finally:
        staged.unpersist()
        shutil.rmtree(scratch, ignore_errors=True)
    return round(best, 3)


def bench_srp_incremental(spark, sc_dir: str) -> dict:
    """Per-batch cost of the PRODUCTION embedding near-dup loop at the
    staged scale point: persisted SRP index over 90% of the corpus
    (built once, untimed — it amortizes across every future batch),
    then ONE timed incremental dedup of the remaining 10% batch
    against it (operators/similarity.py srp_dedup_incremental).

    This is the number a 100 TB deployment plans around — the capped
    one-shot (`emb_cosine_near_dup_lsh`) is the bootstrap tool; daily
    ingest runs this O(batch) path (VERDICT r10/r11, measured 3.9 s
    per 10% batch vs 66.9 s full re-pair in round 10). Parameters
    mirror scripts/neardup_threeway.py so the series stays comparable
    with the recorded r10 measurement.

    Round-13 stabilization (VERDICT r12 item 2: 3.2-8.1 s on identical
    code): the probe batch is staged to its own parquet at a PINNED
    task width (the raw filter's split count varied with staging file
    layout, and task-count jitter dominated the ±40% band at this ~4 s
    magnitude), reps rise to min-of-3 after the warm-up, and the full
    {min, med, max} band is returned — the scalar series key keeps the
    min, the band lands in BENCH_DETAIL (srp_incremental_batch_band)
    so the series carries its own spread.
    """
    import statistics

    from pyspark.sql import functions as F

    from etl_mudah_spark.operators import similarity as sim
    from etl_mudah_spark.session import default_parallelism
    from etl_mudah_spark.tables import load

    emb = load(spark, sc_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 10 != 0)
    scratch = tempfile.mkdtemp(prefix="bench_srp_inc_")
    try:
        idx_dir = f"{scratch}/srp_index"
        sim.srp_index_build(base, idx_dir, dim=64, n_planes=8, n_tables=24)
        batch_dir = f"{scratch}/batch"
        (
            emb.where(F.col("vec_id") % 10 == 0)
            .repartition(default_parallelism())
            .write.parquet(batch_dir)
        )

        def one_batch():
            # fresh read per rep: a reused DataFrame would hit Spark's
            # shuffle-reuse and time skipped stages (round-11 trap note)
            sim.srp_dedup_incremental(
                spark, spark.read.parquet(batch_dir), idx_dir,
                dim=64, n_planes=8, n_tables=24, threshold=0.45,
            ).write.mode("overwrite").format("noop").save()

        one_batch()  # untimed warm-up: Arrow/UDF worker + codegen state
        # (round-12 runs measured 3.2 vs 8.1 s min-of-2 without it)
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            one_batch()
            ts.append(round(time.perf_counter() - t0, 3))
        return {
            "min": min(ts),
            "med": round(statistics.median(ts), 3),
            "max": max(ts),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def bench_stream_srp_ingest(spark, sc_dir: str) -> dict:
    """Drain time of the STREAMING embedding near-dup ingest loop at
    the x10 staged point (streaming/ingest.stream_srp_dedup_ingest):
    the same 90%-index / 10%-batch split as
    :func:`bench_srp_incremental` directly above, but the batch
    arrives as 4 file-source micro-batches, each deduped then appended
    to the index inside one Structured Streaming query. The delta vs
    ``srp_incremental_batch_sec`` is therefore the measured price of
    the streaming harness itself (per-trigger planning/codegen,
    checkpoint commits, index appends) — the number that sizes
    micro-batches for a daily-ingest deployment: per-batch fixed cost
    vs ingest latency.

    Each rep streams into a FRESH COPY of the once-built index (the
    append mutates it; a reused index would double-see earlier reps'
    batches) with a fresh checkpoint — same min-of-reps-after-warmup
    policy as the srp series. Returns {min, med, max} over 2 warm
    reps (the drain is ~4x the one-shot batch cost, so the budget
    holds at fewer samples).
    """
    import statistics

    from pyspark.sql import functions as F

    from etl_mudah_spark.operators import similarity as sim
    from etl_mudah_spark.streaming.ingest import stream_srp_dedup_ingest
    from etl_mudah_spark.tables import load

    emb = load(spark, sc_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 10 != 0)
    scratch = tempfile.mkdtemp(prefix="bench_srp_stream_")
    try:
        idx0 = f"{scratch}/idx0"
        sim.srp_index_build(base, idx0, dim=64, n_planes=8, n_tables=24)
        (
            emb.where(F.col("vec_id") % 10 == 0)
            .repartitionByRange(4, "vec_id")
            .write.parquet(f"{scratch}/drop")
        )

        def one_drain(rep: int) -> float:
            idx = f"{scratch}/idx_rep{rep}"
            shutil.copytree(idx0, idx)
            t0 = time.perf_counter()
            stream_srp_dedup_ingest(
                spark,
                f"{scratch}/drop",
                idx,
                f"{scratch}/pairs{rep}",
                f"{scratch}/ckpt{rep}",
                dim=64,
                threshold=0.45,
                n_planes=8,
                n_tables=24,
            ).write.mode("overwrite").format("noop").save()
            return round(time.perf_counter() - t0, 3)

        one_drain(0)  # untimed warm-up (Arrow/codegen, as srp series)
        ts = [one_drain(r) for r in (1, 2)]
        return {
            "min": min(ts),
            "med": round(statistics.median(ts), 3),
            "max": max(ts),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def bench_q18_ivm_refresh(spark, sc_dir: str) -> float:
    """Per-batch maintenance cost of the Q18 rollup at the x100 staged
    point (VERDICT r12 item 4): refresh the per-order summing aggregate
    from a 10% insert batch via operators/ivm.incremental_agg and write
    the new version — the cycle a maintained layout table actually pays
    per ingest batch, measured next to the query it serves
    (big_orders_preagg). Refresh reads the prior rollup + the batch and
    rewrites the aggregate (O(rollup + batch)), never raw lineitem —
    BASELINE.md notes refresh-vs-rebuild."""
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators.ivm import incremental_agg, summing_agg
    from etl_mudah_spark.tables import load

    scratch = tempfile.mkdtemp(prefix="bench_q18_ivm_")
    try:
        li = load(spark, sc_dir, "lineitem").select("l_orderkey", "l_quantity")
        base_dir = f"{scratch}/rollup_v0"
        # Base = the maintained aggregate over the 90% "already
        # ingested" corpus; the held-out 10% arrives as an insert diff.
        summing_agg(
            li.where(F.col("l_orderkey") % 10 != 0),
            ["l_orderkey"],
            {"qty_sum": "l_quantity"},
        ).write.parquet(base_dir)
        diff_dir = f"{scratch}/diff"
        (
            li.where(F.col("l_orderkey") % 10 == 0)
            .select(
                F.lit(None).cast("bigint").alias("old_l_orderkey"),
                F.lit(None).cast(
                    dict(li.dtypes)["l_quantity"]
                ).alias("old_l_quantity"),
                F.col("l_orderkey").alias("new_l_orderkey"),
                F.col("l_quantity").alias("new_l_quantity"),
                F.lit("insert").alias("change_type"),
            )
            .write.parquet(diff_dir)
        )

        def one_refresh(version: str) -> None:
            incremental_agg(
                spark.read.parquet(base_dir),
                spark.read.parquet(diff_dir),
                ["l_orderkey"],
                {"qty_sum": "l_quantity"},
            ).write.mode("overwrite").parquet(f"{scratch}/{version}")

        one_refresh("warm")  # codegen/JIT warm-up, same policy as srp
        best = float("inf")
        for i in range(2):
            t0 = time.perf_counter()
            one_refresh(f"v{i + 1}")
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _stage_totals(spark) -> dict[str, int] | None:
    """Cumulative completed-stage IO counters (bytes) from the Spark UI
    REST API; None when the UI is unavailable (spark.ui.enabled=false).
    Deltas of these snapshots around a query give its measured shuffle
    read/write, scan input, and spill — the numbers behind every
    'minimize shuffles' claim, recorded instead of asserted."""
    import json as _json
    import urllib.request

    try:
        url = spark.sparkContext.uiWebUrl
        if not url:
            return None
        apps = _json.load(
            urllib.request.urlopen(f"{url}/api/v1/applications", timeout=5)
        )
        app_id = apps[0]["id"]
        stages = _json.load(
            urllib.request.urlopen(
                f"{url}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=10,
            )
        )
    except Exception:
        return None
    out = {"shuffle_read": 0, "shuffle_write": 0, "input": 0, "spill": 0}
    for s in stages:
        out["shuffle_read"] += s.get("shuffleReadBytes", 0) or 0
        out["shuffle_write"] += s.get("shuffleWriteBytes", 0) or 0
        out["input"] += s.get("inputBytes", 0) or 0
        out["spill"] += (s.get("diskBytesSpilled", 0) or 0) + (
            s.get("memoryBytesSpilled", 0) or 0
        )
    return out


# Above this per-rep wall time a query stops repeat-sampling early:
# repeat-sampling exists to tame sub-second session noise (±30%), which
# is irrelevant at 10s+ magnitudes, and re-running a minute-long query
# triples bench time for no information. But a single COLD sample may
# never define the record (VERDICT r11 item 3: one cold rep under load
# printed 70.2 s for a ~20 s-warm query and quadrupled the x10 total)
# — a slow first rep always gets one warm follow-up rep, and the cold
# sample is then discarded.
SLOW_SINGLE_REP_SEC = 10.0


def run_headline(
    spark,
    sf_dir: str,
    label: str,
    names: list[str] | None = None,
    band_names: frozenset[str] = frozenset(),
) -> tuple[
    dict[str, float],
    dict[str, dict[str, int]],
    dict[str, int],
    dict[str, list[float]],
]:
    """Median-of-N_REPS wall time per headline query against
    ``sf_dir``, plus per-run IO bytes (shuffle read/write, scan input,
    spill) from completed-stage counters averaged over the reps, plus
    the ACTUAL rep count per query (the SLOW_SINGLE_REP_SEC early
    break means a slow query may be sampled once, and the artifact
    must say so — ADVICE r6), plus the raw warm samples per query
    (post-cold-discard) so a scale point can record a {min, med, max}
    band for its epoch-sensitive members (VERDICT r13 item 7)."""
    import statistics

    timings: dict[str, float] = {}
    io: dict[str, dict[str, int]] = {}
    reps_used: dict[str, int] = {}
    raw: dict[str, list[float]] = {}
    for name in names if names is not None else HEADLINE:
        fn = BENCH_FNS.get(name) or registry.REGISTRY[name].spark_fn
        # band members: the early break would leave a slow query's
        # band a single warm sample (min=med=max — exactly what it
        # failed to do for emb_cosine_near_dup_lsh at x10 in r14's
        # record), so they always take 1 cold + max(N_REPS, 3) warm
        # reps. Cost is bounded: band membership is per-point opt-in
        # for the queries whose epoch spread dominates that point's
        # round-over-round movement.
        in_band = name in band_names
        n_target = max(N_REPS, 3) + 1 if in_band else N_REPS
        reps = []
        m0 = _stage_totals(spark)
        for i in range(n_target):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink: full execution of every column, nothing
            # collected — count() would let Catalyst prune the computed
            # columns away.
            df.write.mode("overwrite").format("noop").save()
            reps.append(time.perf_counter() - t0)
            # early break for slow queries — but never after the first
            # rep alone (SLOW_SINGLE_REP_SEC rationale): a slow FIRST
            # rep gets one warm follow-up before stopping.
            if (
                not in_band
                and reps[-1] > SLOW_SINGLE_REP_SEC
                and (i > 0 or N_REPS == 1)
            ):
                break
        n_runs = len(reps)
        if n_runs > 1 and (in_band or reps[0] > SLOW_SINGLE_REP_SEC):
            # discard the cold sample a slow first rep represents; the
            # recorded stat is over warm reps only (VERDICT r11 item
            # 3). Band members discard it unconditionally — their
            # first rep is a declared warm-up (srp-band policy), so
            # the band is exactly the warm samples.
            reps = reps[1:]
        m1 = _stage_totals(spark)
        if m0 is not None and m1 is not None:
            # clamp at 0: if the UI store ever evicts stages between
            # snapshots (retention raised in session.py, but belt and
            # suspenders) a negative delta is meaningless
            io[name] = {k: max(0, m1[k] - m0[k]) // n_runs for k in m1}
        timings[name] = round(statistics.median(reps), 3)
        raw[name] = [round(r, 3) for r in reps]
        # reps_used counts EXECUTIONS (n_runs), not samples-in-stat: a
        # slow query shows 2 with the cold run discarded — readable as
        # "one warm measurement", never mistakable for a single cold
        # rep (the r11 misreading).
        reps_used[name] = n_runs
        cold = " (cold discarded)" if len(reps) < n_runs else ""
        print(
            f"  [{label}] {name}: {timings[name]}s "
            f"(median of {len(reps)} of {n_runs} runs{cold})",
            file=sys.stderr,
        )
    return timings, io, reps_used, raw


def stage_multifile(
    spark, sf_dir: str, scratch: str, target_bytes: int = 512 * 1024, cap: int = 32
) -> str:
    """Rewrite each table as multiple parquet files sized to
    ``target_bytes`` so scans parallelize across cores.

    The driver's testdata is one file / one row group per table, which
    pins every Spark scan to a single task no matter how many cores
    exist — the single-file ratio vs DuckDB measures that artifact, not
    engine throughput. File count follows SIZE, never a fixed fan-out:
    a fixed 32-way split was measured to HURT (a 0.8 MB embeddings
    table as 32 near-empty files costs a task + Python-worker spin-up
    per file in the UDF-bearing queries, +70% on the LSH query).

    Round 5: the rewrite IS operators/layout.py:compact_files (copy the
    single source file in, then compact in place) — the bench measures
    the layout the production compaction path actually produces, not a
    hand-rolled duplicate of its size policy.
    """
    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.tables import TABLES

    dst_dir = os.path.join(scratch, "multifile")
    os.makedirs(dst_dir, exist_ok=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TABLES:
        src = f"{sf_dir}/{name}.parquet"
        dst = f"{dst_dir}/{name}.parquet"
        os.makedirs(dst, exist_ok=True)
        shutil.copy(src, os.path.join(dst, "part-00000.parquet"))
        compact_files(
            spark, dst, target_file_bytes=target_bytes, max_files=cap
        )
    return dst_dir


def stage_scaled(
    spark,
    sf_dir: str,
    scratch: str,
    factor: int = 10,
    target_bytes: int = 512 * 1024,
    cap: int = 32,
    tables: list[str] | None = None,
    row_group_bytes: int | None = None,
    doc_text_mode: str = "words",
) -> tuple[str, int]:
    """Data-proportional scale point (VERDICT r5 item 2): stage a
    ``factor``x replica of every table with PER-REPLICA KEY OFFSETS so
    the result behaves like a genuinely bigger dataset, not the same
    one glued end to end.

    Each replica r offsets every key/foreign-key column by
    r * (max_key + 1) CONSISTENTLY across tables, so replica r's
    orders reference replica r's customers etc. — join selectivities
    and per-key cardinalities are preserved while row counts and bytes
    grow ~factor-x. Content columns that drive similarity operators
    are made replica-distinct (otherwise every doc/vector would gain
    factor-1 exact twins and near-dup pair counts would grow
    QUADRATICALLY instead of linearly, which is not what a bigger
    corpus looks like): document words get a replica suffix, and each
    embedding goes through a replica-specific SIGNED PERMUTATION — an
    orthogonal transform, so within-replica cosine/L2 structure is
    EXACTLY preserved (near-dup pairs scale linearly with factor)
    while cross-replica pairs decorrelate to random-pair level. (An
    additive offset vector was tried first and rejected: its norm
    dominates unit embeddings, collapsing each replica into one
    near-parallel cone — a quadratic pair blowup artifact.)

    The layout goes through the production compact_files policy like
    the multifile point. Returns (dir, staged_bytes).
    """
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators.layout import compact_files
    from etl_mudah_spark.tables import TABLES, load

    dst_dir = os.path.join(scratch, "scaled")
    os.makedirs(dst_dir, exist_ok=True)

    src = {name: load(spark, sf_dir, name) for name in TABLES}
    # one tiny max() job per key space; offsets must agree across every
    # table referencing that space
    off = {}
    for space, (tbl, col) in {
        "region": ("region", "r_regionkey"),
        "nation": ("nation", "n_nationkey"),
        "cust": ("customer", "c_custkey"),
        "supp": ("supplier", "s_suppkey"),
        "part": ("part", "p_partkey"),
        "order": ("orders", "o_orderkey"),
        "event": ("events", "event_id"),
        "user": ("events", "user_id"),
        "doc": ("documents", "doc_id"),
        "vec": ("embeddings", "vec_id"),
    }.items():
        off[space] = int(src[tbl].agg(F.max(col)).first()[0]) + 1

    key_map: dict[str, dict[str, str]] = {
        "region": {"r_regionkey": "region"},
        "nation": {"n_nationkey": "nation", "n_regionkey": "region"},
        "customer": {"c_custkey": "cust", "c_nationkey": "nation"},
        "supplier": {"s_suppkey": "supp", "s_nationkey": "nation"},
        "part": {"p_partkey": "part"},
        "orders": {"o_orderkey": "order", "o_custkey": "cust"},
        "lineitem": {
            "l_orderkey": "order",
            "l_partkey": "part",
            "l_suppkey": "supp",
        },
        "events": {"event_id": "event", "user_id": "user"},
        "documents": {"doc_id": "doc"},
        "embeddings": {"vec_id": "vec"},
    }
    # sequence, not a literal array: the documents scale point runs at
    # factor ~2000 (data-proportional bytes, VERDICT r13 item 2) and a
    # 2000-literal array blows past codegen method limits.
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_r")
    for name in tables if tables is not None else TABLES:
        df = src[name].select("*", reps)
        mapping = key_map[name]
        out = df.select(
            *[
                (F.col(c) + F.col("_r") * F.lit(off[mapping[c]])).alias(c)
                if c in mapping
                else F.col(c)
                for c in src[name].columns
            ]
        )
        if name == "documents":
            if doc_text_mode == "words":
                perturbed = F.array_join(
                    F.transform(
                        F.split(F.trim("text"), r"\s+"),
                        lambda w: F.concat(w, F.lit("_"), F.col("_r").cast("string")),
                    ),
                    " ",
                )
            else:
                # "suffix": one concat per row instead of one lambda per
                # WORD (~50x cheaper; measured 334 s -> well under a
                # minute at factor ~1800). Replicas stay pairwise
                # distinct strings (no parquet dictionary collapse, no
                # exact-dup artifact), but word-level shingles are NOT
                # decorrelated across replicas — only valid for
                # stagings whose consumers never shingle text (the
                # x100 doc_shard_pack_global point); the x10 staging
                # that feeds minhash/similarity keeps "words".
                perturbed = F.concat(
                    F.col("text"), F.lit(" #r"), F.col("_r").cast("string")
                )
            text = F.when(F.col("_r") == 0, F.col("text")).otherwise(perturbed)
            out = df.select(
                (F.col("doc_id") + F.col("_r") * F.lit(off["doc"])).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                F.length(text).cast("bigint").alias("n_chars"),
            )
        elif name == "embeddings":
            # signed permutation: out[i] = sign(r,i) * in[(i + 17r) mod d]
            # (orthogonal — inner products within a replica unchanged);
            # r=0 is the identity with all-positive signs.
            from etl_mudah_spark.plans.datapipe import EMB_DIM

            dim = EMB_DIM

            def _perm_elem(i):
                s = F.when(F.col("_r") == 0, F.lit(1.0)).otherwise(
                    F.when(
                        F.pmod(F.xxhash64(F.col("_r"), i), F.lit(2)) == 0,
                        F.lit(1.0),
                    ).otherwise(F.lit(-1.0))
                )
                src_pos = (F.pmod(i + F.col("_r") * 17, F.lit(dim)) + 1).cast("int")
                return (F.element_at(F.col("embedding"), src_pos) * s).cast("float")

            permuted = F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)), _perm_elem
            )
            out = df.select(
                (F.col("vec_id") + F.col("_r") * F.lit(off["vec"])).alias("vec_id"),
                permuted.alias("embedding"),
                "label",
            )
        dst = f"{dst_dir}/{name}.parquet"
        out.write.mode("overwrite").parquet(dst)
        compact_files(
            spark,
            dst,
            target_file_bytes=target_bytes,
            max_files=cap,
            row_group_bytes=row_group_bytes,
        )
    staged_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(dst_dir)
        for f in fs
    )
    return dst_dir, staged_bytes


def stage_drop(spark, sf_dir: str, scratch: str, n_files: int):
    """The events table re-staged as ``n_files`` parquet drop files
    under ``scratch``, the source of :func:`hourly_event_agg`; returns
    (drop dir, schema, row count)."""
    from etl_mudah_spark.tables import load

    events = load(spark, sf_dir, "events")
    drop = os.path.join(scratch, "drop")
    events.repartition(n_files).write.mode("overwrite").parquet(drop)
    return drop, spark.read.parquet(drop).schema, events.count()


def hourly_event_agg(spark, drop: str, schema, files_per_trigger: int):
    """The production hourly-rollup shape (watermark + tumbling window
    + count/sum) as a stream over the parquet drop dir ``drop``,
    reading ``files_per_trigger`` files per micro-batch."""
    from pyspark.sql import functions as F

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(drop)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def bench_streaming(spark, sf_dir: str, n_files: int = 16) -> dict:
    """Sustained Structured-Streaming throughput (VERDICT r5 item 6):
    the events table re-staged as ``n_files`` drop files, consumed one
    file per trigger through :func:`hourly_event_agg` (update mode)
    into a foreachBatch noop sink. Reports end-to-end rows/sec,
    micro-batch count/latency, and the state size (distinct
    window×type groups)."""
    from pyspark.sql import functions as F

    from etl_mudah_spark.streaming.pipeline import run_stream
    from etl_mudah_spark.tables import load

    scratch = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        drop, schema, n_rows = stage_drop(spark, sf_dir, scratch, n_files)

        def drain(files_per_trigger: int, width: int | None) -> tuple[float, int]:
            """Wall seconds from start() to stop() and micro-batch count."""
            batches: list[int] = []

            def sink(batch_df, batch_id: int) -> None:
                batch_df.write.mode("overwrite").format("noop").save()
                batches.append(batch_id)

            agg = hourly_event_agg(spark, drop, schema, files_per_trigger)
            t0 = time.perf_counter()
            run_stream(spark, agg, sink, width=width, output_mode="update")
            return time.perf_counter() - t0, len(batches)

        wall, n_batches = drain(1, None)
        # Saturation point: the same pipeline fed everything in ONE
        # trigger — separates the per-micro-batch floor (scheduling +
        # state-store round trip, what the 1-file/trigger number is
        # made of) from actual streaming compute throughput.
        sat_wall, _ = drain(n_files, None)
        # State-sized partitioning (round-11 floor decomposition,
        # BASELINE.md §13): the per-trigger floor is dominated by
        # addBatch, which is dominated by ONE state-store commit file
        # per state partition per trigger — 32 partitions for a
        # ~800-group state is pure ledger overhead (measured: 0.74 ->
        # 0.52 s/batch at 4 partitions, 0.36 at 1). Production sizing
        # rule: state partitions ~ state size / executor memory, NOT
        # the batch shuffle width. Reported as separate keys so the
        # original 32-partition series stays comparable.
        p4_wall, p4_batches = drain(1, 4)

        state_rows = (
            load(spark, sf_dir, "events")
            .select(
                F.date_trunc("hour", "ts").alias("h"), "event_type"
            )
            .distinct()
            .count()
        )
        return {
            "streaming_rows_per_sec": round(n_rows / wall),
            "streaming_rows_per_sec_saturated": round(n_rows / sat_wall),
            "streaming_rows_per_sec_state_sized": round(n_rows / p4_wall),
            "streaming_input_rows": n_rows,
            "streaming_batches": n_batches,
            "streaming_batch_latency_sec": round(wall / max(1, n_batches), 3),
            "streaming_batch_latency_state_sized": round(
                p4_wall / max(1, p4_batches), 3
            ),
            "streaming_state_groups": state_rows,
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run_duckdb(sf_dir: str, names: list[str], threads: int) -> dict[str, float]:
    """DuckDB wall times for the ORACLE-EXPRESSIBLE headline queries
    over the same parquet files (views, warm best-of-3, fetchall) —
    the BASELINE.md methodology, now runnable against any staged dir
    so the Spark-vs-DuckDB ratio is measured at every scale point in
    one artifact. Queries with no SQL oracle (the sketch ops) are
    skipped, matching the baseline table."""
    import duckdb

    from etl_mudah_spark.operators.manifest import manifest_resolve
    from etl_mudah_spark.tables import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = manifest_resolve(os.path.join(sf_dir, f"{t}.parquet"))
        if not os.path.exists(p):
            continue  # partial stagings (x100 subset) carry only the
            # tables their query subset reads
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    out: dict[str, float] = {}
    for name in names:
        q = registry.REGISTRY[name].oracle
        if q is None:
            continue
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(q).fetchall()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    con.close()
    return out


# Keys allowed on the one-line stdout record. Round 6's bench line
# outgrew the driver's capture (BENCH_r06.json landed as an unparseable
# 2000-char tail — VERDICT r6 finding 1), so the line now carries only
# the headline numbers; per-query IO bytes, per-query DuckDB timings,
# staging policies, methodology, and extra scale points live in
# BENCH_DETAIL.json written by the bench itself.
LINE_KEYS = (
    "metric",
    "value",
    "unit",
    "sf",
    "queries",
    "value_multifile",
    "value_sf_x10",
    "value2_sf_x10",
    "value2_errors",
    "value2_n",
    "value_sf_x100",
    "srp_incremental_batch_sec",
    "stream_srp_ingest_sec",
    "q18_ivm_refresh_sec",
    "merge_upsert_batch",
    "value_duckdb",
    "value_duckdb_sf_x10",
    "spark_vs_duckdb",
    "streaming_rows_per_sec",
    "streaming_rows_per_sec_saturated",
    "streaming_rows_per_sec_state_sized",
    "load",
    "surfaces_skipped",
    "detail",
)
# The driver captures only the LAST ~2000 chars of stdout; round 11
# proved a 4 KB allowance loses the record (BENCH_r11.json parsed:null
# — the line outgrew the capture when queries2_sf_x10 landed). The
# line now carries ONLY the base per-query map, scale-point totals,
# ratios, streaming floors, and load evidence; every per-query map of
# the secondary scale points lives exclusively in BENCH_DETAIL.json.
MAX_LINE_BYTES = 1500


def detail_target(base_path: Path, result: dict) -> Path:
    """Where this run's detail record may land (VERDICT r13 item 3).

    A solo-attested record (SPARK_GRAFT_BENCH_SOLO=1, quiet box) is the
    canonical round measurement; the driver's own re-run is load-
    contaminated by construction and for four consecutive rounds it
    silently clobbered the committed solo record, forcing a manual
    ``git restore`` every round. Policy, pinned by
    tests/test_bench_detail_guard.py: a non-solo run may NOT overwrite
    an existing ``solo_attested: true`` record — it writes to the
    ``.nonsolo.json`` suffix instead (still a complete record anyone
    can read); solo runs, and runs over a non-solo or unreadable prior
    record, keep the base path."""
    new_solo = bool(result.get("load", {}).get("solo_attested"))
    if not new_solo and base_path.exists():
        try:
            prior = json.loads(base_path.read_text())
            prior_solo = bool(prior.get("load", {}).get("solo_attested"))
        except (OSError, ValueError):
            prior_solo = False
        if prior_solo:
            return base_path.with_name(
                base_path.stem + ".nonsolo" + base_path.suffix
            )
    return base_path


def split_result(full: dict) -> tuple[dict, dict]:
    """Partition the full bench result into (stdout line, detail file).

    The line keeps the LINE_KEYS subset and must serialize under
    MAX_LINE_BYTES (itself comfortably inside the driver's 2000-char
    tail capture); if it somehow doesn't, the base per-query map is
    dropped from the line (it remains in the detail file) before
    giving up. The detail file holds the FULL result, so nothing is
    ever lost to the stdout capture again."""
    line = {k: full[k] for k in LINE_KEYS if k in full}
    for drop in ("queries",):
        if len(json.dumps(line)) <= MAX_LINE_BYTES:
            break
        line.pop(drop, None)
    blob = json.dumps(line)
    if len(blob) > MAX_LINE_BYTES:
        raise AssertionError(
            f"bench stdout line is {len(blob)} bytes (> {MAX_LINE_BYTES})"
        )
    return line, full


def main() -> None:
    global N_REPS, SLOW_SINGLE_REP_SEC
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    multifile = os.environ.get("SPARK_GRAFT_MULTIFILE", "1") != "0"
    # Machine-load evidence (VERDICT r9 item 3): the per-trigger
    # streaming floor collapsed 5381 -> 2961 rows/s in the r9 record
    # with nothing distinguishing load contamination from a real
    # regression. Record 1/5/15-min loadavg BEFORE the session spins up
    # (a solo box reads ~0 here), again right before the streaming
    # pass, and at the end — plus an explicit solo attestation the
    # runner sets with SPARK_GRAFT_BENCH_SOLO=1.
    load_evidence = {
        "start": [round(x, 2) for x in os.getloadavg()],
        "solo_attested": os.environ.get("SPARK_GRAFT_BENCH_SOLO") == "1",
    }
    spark = get_spark("bench")

    # Warm up JVM + codegen + parquet footer caches.
    registry.REGISTRY["pricing_summary"].spark_fn(spark, sf_dir).collect()
    # Warm up the Python UDF workers too (fork + pandas/numpy import +
    # Arrow init costs ~2-3 s on first use and belongs to the session,
    # not to whichever sketch query happens to run first).
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    spark.range(64).select(_warm(F.col("id").cast("double"))).collect()

    timings, io, reps_used, _ = run_headline(spark, sf_dir, "1file")
    # Headline total stays on the same 14-query set as rounds 1-3 for
    # round-over-round comparability; merge is reported separately.
    total = round(sum(timings.values()), 3)
    merge_sec = bench_merge_upsert(spark, sf_dir)
    print(f"  merge_upsert_batch: {merge_sec}s (best of {N_REPS})", file=sys.stderr)

    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        **({"io": io} if io else {}),
        "merge_upsert_batch": merge_sec,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "methodology": {
            "reps": N_REPS,
            # actual per-query sample counts: the SLOW_SINGLE_REP_SEC
            # early break means slow queries may be single-sampled
            "reps_used": reps_used,
            "stat": "median",
            "sink": "noop",
            "merge_stat": "best",  # setup-dominated; best isolates the merge
            # reps_used counts executions; when a query's FIRST rep
            # exceeded SLOW_SINGLE_REP_SEC it got one warm follow-up
            # and the cold sample was discarded from the stat
            "slow_rep_policy": "warm follow-up, cold discarded",
        },
    }

    if multifile:
        # Second scale point: same queries, same data, 32-file layout —
        # isolates scan parallelism from the single-file artifact.
        scratch = tempfile.mkdtemp(prefix="bench_multifile_")
        try:
            mf_dir = stage_multifile(spark, sf_dir, scratch)
            mf_timings, mf_io, mf_reps, _ = run_headline(spark, mf_dir, "multifile")
            result["queries_multifile"] = mf_timings
            if mf_io:
                result["io_multifile"] = mf_io
            result["methodology"]["reps_used_multifile"] = mf_reps
            result["value_multifile"] = round(sum(mf_timings.values()), 3)
            result["multifile_policy"] = {"target_bytes": 512 * 1024, "cap": 32}
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    from etl_mudah_spark.session import default_parallelism

    oracle_names = [n for n in HEADLINE if n not in BENCH_FNS]
    ddb_base = run_duckdb(sf_dir, oracle_names, default_parallelism())
    result["duckdb"] = ddb_base
    result["value_duckdb"] = round(sum(ddb_base.values()), 3)

    scale_factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    if scale_factor > 1:
        # Third, DATA-PROPORTIONAL scale point (round 6): the same 14
        # queries over a key-offset factor-x replica — the first
        # measured point showing per-query cost growth vs bytes while
        # the fixed per-query floor stays constant. 3 reps (not
        # N_REPS): the queries are slower here, so medians stabilize
        # with fewer samples and the bench stays inside its budget.
        base_bytes = sum(
            os.path.getsize(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
        scratch = tempfile.mkdtemp(prefix="bench_scaled_")
        saved_reps = N_REPS
        try:
            sc_dir, sc_bytes = stage_scaled(
                spark, sf_dir, scratch, factor=scale_factor
            )
            N_REPS = min(3, saved_reps)
            sc_timings, sc_io, sc_reps, sc_raw = run_headline(
                spark,
                sc_dir,
                f"x{scale_factor}",
                band_names=frozenset({"emb_cosine_near_dup_lsh"}),
            )
            # The x10 total's round-over-round swings are dominated by
            # this one query's epoch sensitivity (VERDICT r13 item 7);
            # its warm rep band makes the total's movers attributable
            # without a decomp session.
            if sc_raw.get("emb_cosine_near_dup_lsh"):
                _lsh = sorted(sc_raw["emb_cosine_near_dup_lsh"])
                result_lsh_band = {
                    "min": _lsh[0],
                    "med": _lsh[len(_lsh) // 2],
                    "max": _lsh[-1],
                }
            else:
                result_lsh_band = None
            result[f"queries_sf_x{scale_factor}"] = sc_timings
            if sc_io:
                result[f"io_sf_x{scale_factor}"] = sc_io
            result["methodology"][f"reps_used_sf_x{scale_factor}"] = sc_reps
            result[f"value_sf_x{scale_factor}"] = round(sum(sc_timings.values()), 3)
            if result_lsh_band is not None:
                result["emb_lsh_x10_band"] = result_lsh_band
            result["scale_policy"] = {
                "factor": scale_factor,
                "bytes": sc_bytes,
                "bytes_base": base_bytes,
                "reps": N_REPS,
                # emb_cosine_near_dup_lsh grows superlinearly here BY
                # DATA PROPERTY, not plan defect: at threshold 0.45 the
                # near-uniform synthetic embeddings have constant
                # random-pair candidate density, so LSH candidate pairs
                # scale ~n^2 * p — real embedding corpora thresholded at
                # true-duplicate similarity keep per-doc candidate rates
                # ~constant (linear). The other 13 queries measure the
                # byte-proportional path.
                "notes": "emb_cosine_near_dup_lsh is candidate-bound on uniform data (~n^2 pairs at fixed threshold)",
            }
            # DuckDB at the SAME staged scale point: the ratio
            # trajectory (fixed-floor-dominated at sf0.1, converging as
            # data grows) measured in one artifact.
            ddb_x = run_duckdb(sc_dir, oracle_names, default_parallelism())
            result[f"duckdb_sf_x{scale_factor}"] = ddb_x
            result[f"value_duckdb_sf_x{scale_factor}"] = round(
                sum(ddb_x.values()), 3
            )
            common = [n for n in oracle_names if n in ddb_x and n in sc_timings]
            result["spark_vs_duckdb"] = {
                "base_singlefile": round(
                    sum(timings[n] for n in ddb_base) / sum(ddb_base.values()), 1
                ),
                f"x{scale_factor}": round(
                    sum(sc_timings[n] for n in common)
                    / sum(ddb_x[n] for n in common),
                    1,
                ),
            }
            if os.environ.get("SPARK_GRAFT_BENCH_SET2", "1") != "0":
                # 2 reps, not 1: the round-12 set-2 read showed four
                # sub-5s queries swinging >50% purely from single-rep
                # sampling (BASELINE.md §18) — a regression series
                # nobody can read isn't a series. Slow queries still
                # stop after one WARM rep via the cold-discard policy.
                N_REPS = 2
                s2_timings: dict[str, float] = {}
                s2_errors: dict[str, str] = {}
                for s2name in HEADLINE2:
                    try:
                        t2, _io2, _r2, _raw2 = run_headline(
                            spark, sc_dir, f"set2 x{scale_factor}", [s2name]
                        )
                        s2_timings.update(t2)
                    except Exception as exc:  # record, never kill the run
                        s2_errors[s2name] = str(exc)[:200]
                result[f"queries2_sf_x{scale_factor}"] = s2_timings
                result[f"value2_sf_x{scale_factor}"] = round(
                    sum(s2_timings.values()), 3
                )
                # error count rides the LINE (ADVICE r11): a query that
                # regresses into an exception shrinks value2, and
                # without this marker the partial sum reads as an
                # improvement on the one-line record.
                result["value2_errors"] = len(s2_errors)
                # query count rides the LINE too (VERDICT r14 item 3):
                # the set-2 list grows across rounds (r14 added
                # emb_knn_label_agreement, 10 -> 11 queries), so a
                # total compared across rounds without the count reads
                # as a regression when it is an added query. value2_n
                # makes the sum self-describing.
                result["value2_n"] = len(s2_timings)
                if s2_errors:
                    result[f"queries2_errors_x{scale_factor}"] = s2_errors
            else:
                result.setdefault("surfaces_skipped", []).append("set2")
            if os.environ.get("SPARK_GRAFT_BENCH_SRP_INC", "1") != "0":
                # The production near-dup loop as a first-class x10
                # series (VERDICT r11 item 4): per-batch incremental
                # SRP dedup next to the capped one-shot, so the number
                # a 100 TB user plans around gets its own
                # round-over-round line.
                try:
                    band = bench_srp_incremental(spark, sc_dir)
                    # scalar series key keeps its r10-r12 meaning (the
                    # best observed batch); the spread goes to detail
                    result["srp_incremental_batch_sec"] = band["min"]
                    result["srp_incremental_batch_band"] = band
                except Exception as exc:  # recorded, never fatal
                    result["srp_incremental_error"] = str(exc)[:200]
                try:
                    sband = bench_stream_srp_ingest(spark, sc_dir)
                    # delta vs srp_incremental_batch_sec = streaming
                    # harness overhead (4 triggers + appends + ckpt)
                    result["stream_srp_ingest_sec"] = sband["min"]
                    result["stream_srp_ingest_band"] = sband
                except Exception as exc:  # recorded, never fatal
                    result["stream_srp_ingest_error"] = str(exc)[:200]
            else:
                result.setdefault("surfaces_skipped", []).append("srp_inc")
        finally:
            N_REPS = saved_reps
            shutil.rmtree(scratch, ignore_errors=True)

    x2 = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR_2", "100"))
    if x2 > 1:
        # Fourth scale point (VERDICT r6 item 6): one more decade for
        # the three SCAN-BOUND headliners only, at ~sf10-equivalent
        # staged bytes. The 9.7x -> 2.2x Spark/DuckDB trajectory from
        # the x10 point predicts the crossing here — measure it instead
        # of extrapolating. Only the tables this subset reads are
        # staged (customer/orders/lineitem), and each query is sampled
        # once: at 10s+ magnitudes session noise is irrelevant
        # (SLOW_SINGLE_REP_SEC rationale).
        # big_orders_preagg: the Q18 layout lever (write-time rollup,
        # BASELINE.md §17) gets its own x100 series next to the
        # re-aggregating form it replaces.
        # doc_shard_pack_global (VERDICT r12 item 6): one shuffle-bound
        # doc-tier query so the x100 series tracks the class the engine
        # wins at the scale point that predicts 100 TB, not only the
        # scan-bound headliners.
        subset = [
            "pricing_summary",
            "big_orders",
            "big_orders_preagg",
            "keep_one_per_order",
            "doc_shard_pack_global",
        ]
        scratch = tempfile.mkdtemp(prefix="bench_x100_")
        saved_reps = N_REPS
        saved_slow = SLOW_SINGLE_REP_SEC
        try:  # noqa: SIM105 — a failure in the NEW x100 path must
            # degrade to a recorded error, never cost the whole record
            sc_dir, _ = stage_scaled(
                spark,
                sf_dir,
                scratch,
                factor=x2,
                tables=["customer", "orders", "lineitem"],
                target_bytes=64 * 1024 * 1024,
                cap=64,
                # Row groups ARE the split granularity: without this the
                # 64 MB files land as one row group each and the scan
                # cannot use more tasks than files (14 of 32 cores at
                # x100 — see operators/layout.py compact_files).
                row_group_bytes=16 * 1024 * 1024,
            )
            # documents stage at DATA-PROPORTIONAL bytes (VERDICT r13
            # item 2): at the plain x100 factor the staged documents
            # are ~50 MB — a fixed-cost regime where the doc-shuffle
            # ratio measures per-stage floors, not throughput. Scale
            # the factor so documents bytes ~ lineitem's x100 bytes
            # (the scan-bound series' regime), capped at 2000.
            li_b = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
            doc_b = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
            doc_factor = min(2000, max(x2, round(x2 * li_b / doc_b)))
            _, sc_bytes = stage_scaled(
                spark,
                sf_dir,
                scratch,
                factor=doc_factor,
                tables=["documents"],
                target_bytes=64 * 1024 * 1024,
                cap=64,
                row_group_bytes=16 * 1024 * 1024,
                # whole-text suffix: doc_shard_pack_global never
                # shingles text, and the per-word transform costs ~6
                # bench minutes at this factor (see stage_scaled)
                doc_text_mode="suffix",
            )
            # Build the registered Q18 plan once BEFORE the timing loop
            # (ADVICE r12): plan build writes the range-sorted rollup
            # and caches it per (application, dir, lineitem
            # fingerprint), so the timed reps reuse it. Lazily building
            # inside the first timed rep charged the one-off layout
            # cost (~4.4 s at x100) to that rep's IO average and would
            # define the record under any single-rep policy.
            registry.REGISTRY["big_orders_preagg"].spark_fn(spark, sc_dir)
            # Median-of-3: reps=1 was measured to swing the three
            # 10s-magnitude queries 1.5-2.5x run to run (page-cache and
            # JIT state dominate a single sample even at this size), so
            # the "session noise is irrelevant" rationale was wrong.
            # The slow-rep early break must also lift here or the
            # >10s queries still sample once.
            SLOW_SINGLE_REP_SEC = 120.0
            N_REPS = 3
            x2_timings, x2_io, _, _ = run_headline(
                spark, sc_dir, f"x{x2}", names=subset
            )
            result[f"queries_sf_x{x2}"] = x2_timings
            if x2_io:
                result[f"io_sf_x{x2}"] = x2_io
            result[f"value_sf_x{x2}"] = round(sum(x2_timings.values()), 3)
            ddb_x2 = run_duckdb(sc_dir, subset, default_parallelism())
            result[f"duckdb_sf_x{x2}"] = ddb_x2
            # Ratio keys keep ONE meaning across rounds (ADVICE r12):
            # x{x2}_scan_bound is the same-work set (Spark and DuckDB
            # both compute from raw; pricing_summary / big_orders /
            # keep_one_per_order — the r11 membership), the layout-tier
            # and doc-tier queries get their own keys. The layout ratio
            # is explicitly NOT apples-to-apples work (Spark reads the
            # maintained rollup, DuckDB recomputes from raw lineitem) —
            # that asymmetry IS the layout lever being measured.
            same_work = [
                n for n in ddb_x2
                if n in ("pricing_summary", "big_orders", "keep_one_per_order")
            ]
            ratios = result.setdefault("spark_vs_duckdb", {})
            ratios[f"x{x2}_scan_bound"] = round(
                sum(x2_timings[n] for n in same_work)
                / sum(ddb_x2[n] for n in same_work),
                2,
            )
            if "big_orders_preagg" in ddb_x2:
                ratios[f"x{x2}_layout_tier"] = round(
                    x2_timings["big_orders_preagg"]
                    / ddb_x2["big_orders_preagg"],
                    2,
                )
            if "doc_shard_pack_global" in ddb_x2:
                ratios[f"x{x2}_doc_shuffle"] = round(
                    x2_timings["doc_shard_pack_global"]
                    / ddb_x2["doc_shard_pack_global"],
                    2,
                )
            # The rollup's maintenance cost, in-series (VERDICT r12
            # item 4): refresh the Q18 rollup from a 10% diff batch via
            # operators/ivm.incremental_agg — the number that justifies
            # "maintained table" next to the per-query rebuild.
            try:
                result["q18_ivm_refresh_sec"] = bench_q18_ivm_refresh(
                    spark, sc_dir
                )
            except Exception as exc:  # pragma: no cover
                result["q18_ivm_refresh_error"] = str(exc)[:200]
            result["scale_policy_x2"] = {
                "factor": x2,
                "doc_factor": doc_factor,
                "bytes": sc_bytes,
                "tables": ["customer", "orders", "lineitem", "documents"],
                "queries": subset,
                "reps": 3,
            }
        except Exception as exc:  # pragma: no cover — recorded, not fatal
            result[f"error_sf_x{x2}"] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"  [x{x2}] FAILED: {exc}", file=sys.stderr)
        finally:
            N_REPS = saved_reps
            SLOW_SINGLE_REP_SEC = saved_slow
            shutil.rmtree(scratch, ignore_errors=True)

    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        load_evidence["pre_streaming"] = [
            round(x, 2) for x in os.getloadavg()
        ]
        result.update(bench_streaming(spark, sf_dir))

    # Smoke configs skip surfaces via env; record WHICH, so a partial
    # run that overwrites BENCH_DETAIL.json can't masquerade as the
    # full record (a round-7 near-miss: a quick re-run clobbered the
    # full-run detail file silently).
    skipped = [
        name
        for name, cond in (
            (f"scale_x{scale_factor or 10}", scale_factor <= 1),
            (f"scale_x{x2 or 100}", x2 <= 1),
            (
                "streaming",
                os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") == "0",
            ),
        )
        if cond
    ]
    if skipped:
        result["surfaces_skipped"] = skipped

    load_evidence["end"] = [round(x, 2) for x in os.getloadavg()]
    result["load"] = load_evidence

    detail_path = detail_target(
        Path(__file__).resolve().parent / "BENCH_DETAIL.json", result
    )
    result["detail"] = detail_path.name
    line, detail = split_result(result)
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")
    if detail_path.name != "BENCH_DETAIL.json":
        print(
            f"  solo-attested BENCH_DETAIL.json preserved; this non-solo "
            f"record -> {detail_path.name}",
            file=sys.stderr,
        )
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
