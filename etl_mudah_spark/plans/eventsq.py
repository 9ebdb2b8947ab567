"""Event-stream queries (batch + Structured Streaming twins).

The `events` table stands in for the reference's incremental ingest
surface (SURVEY.md §2.8): time bucketing, JSON prop extraction,
sessionization, dedup — each with a DuckDB oracle. The streaming
variants run the SAME logical plan through a real streaming query and
are checked against the SAME oracle (streaming == batch is the
Structured Streaming contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_mudah_spark.functions.core import dsum, oracle_dsum
from etl_mudah_spark.plans.registry import register
from etl_mudah_spark.session import scratch_dir
from etl_mudah_spark.streaming.pipeline import (
    stream_dedup_events,
    stream_enrich_events,
    stream_hourly_event_counts,
    stream_hourly_user_sketches,
    stream_view_purchase_join,
)
from etl_mudah_spark.streaming.stateful import (
    stream_sessionize_native,
    stream_sessionize_stateful,
)
from etl_mudah_spark.tables import load

_HOURLY_ORACLE = f"""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS cnt,
           {oracle_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
"""


@register(
    "events_hourly",
    oracle=_HOURLY_ORACLE,
    doc="Tumbling 1-hour buckets per event type (batch).",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(F.count("*").alias("cnt"), dsum("value").alias("total_value"))
    )


@register(
    "events_stream_hourly",
    oracle=_HOURLY_ORACLE,
    doc="Same hourly aggregation via a real Structured Streaming query.",
)
def events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_hourly_event_counts(spark, sf_dir)


@register(
    "events_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS cnt
    FROM events GROUP BY event_type
    """,
    doc="Watermarked streaming dedup on event_id, counted per type.",
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_dedup_events(spark, sf_dir)


@register(
    "events_json_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
               / COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON property extraction (get_json_object) + grouped stats.",
)
def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        F.max("k").cast("int").alias("max_k"),
    )


@register(
    "events_sessionize",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
    doc="Gap-based sessionization (30-min inactivity) via lag window.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ev = load(spark, sf_dir, "events").withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 30 * 60
            ),
            1,
        ).otherwise(0),
    )
    return ev.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_stream_sessions",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
    doc=(
        "Per-session rows from a STATEFUL streaming query "
        "(applyInPandasWithState + event-time timeouts); oracle is the "
        "batch lag-window sessionization — streaming == batch."
    ),
)
def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_sessionize_stateful(spark, sf_dir, gap_minutes=30)


@register(
    "events_stream_sessions_native",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
    doc=(
        "Same sessionization from Spark's built-in session_window "
        "streaming aggregation (JVM-native state; the production "
        "default) — streaming == batch == custom-stateful."
    ),
)
def events_stream_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_sessionize_native(spark, sf_dir, gap_minutes=30)


# ---------------------------------------------------------------------------
# Mergeable sketches — THE cardinality pattern at 100 TB. An exact
# COUNT(DISTINCT user_id) shuffles every distinct key; a Datasketches
# HLL sketch is a fixed-size partial aggregate that merges
# associatively, so per-group sketches roll up to any coarser grouping
# WITHOUT rescanning the fact table. The query demonstrates both
# levels: per-event-type estimates plus a global estimate obtained by
# hll_union_agg over the per-type sketches (never re-reading events).
#
# Driver-checkable invariant shape (round 5): the sketch estimate
# itself is engine-specific, so the query emits the EXACT distinct
# count (which DuckDB reproduces) plus a boolean asserting the HLL
# estimate lands within HLL_REL_ERR of it — the estimate degrading
# flips the boolean and hash-mismatches the row. The exact twin is the
# verification harness, not the scale path; at 100 TB you'd run the
# sketch columns alone. Absolute error also pinned in
# tests/test_sketches.py.
# ---------------------------------------------------------------------------
HLL_REL_ERR = 0.05

_HLL_ORACLE = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS events,
           TRUE AS hll_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__',
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           TRUE
    FROM events
"""


@register(
    "events_user_hll",
    oracle=_HLL_ORACLE,
    doc=(
        "Distinct users per event type + rolled-up total: exact counts "
        "with a mergeable-HLL-estimate-within-5% invariant boolean."
    ),
)
def events_user_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    # One shuffle on (event_type, user_id); everything downstream
    # (per-type exact + sketch, global exact + sketch-union) re-aggs
    # the distinct-pair frame without touching the fact table again.
    base = events.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    per_type = base.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("exact_users"),  # base rows are distinct users
        F.sum("n").alias("events"),
    )
    def ok(approx, exact):
        return (F.abs(approx - exact) <= F.lit(HLL_REL_ERR) * exact).alias("hll_ok")

    typed = per_type.select(
        "event_type",
        "exact_users",
        "events",
        ok(F.hll_sketch_estimate("sk"), F.col("exact_users")),
    )
    # Global estimate via sketch UNION (never re-reading events); the
    # global exact twin re-aggs `base`, not the fact table.
    gapprox = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    gexact = base.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.sum("n").alias("events"),
    )
    total = (
        gapprox.crossJoin(gexact)  # 1 row x 1 row
        .select(
            F.lit("__all__").alias("event_type"),
            "exact_users",
            "events",
            ok(F.col("approx_users"), F.col("exact_users")),
        )
    )
    return typed.unionByName(total)


@register(
    "events_stream_enriched",
    oracle=f"""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {oracle_dsum('value')} AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_nationkey
    """,
    doc=(
        "Stream-static join: events stream enriched with the broadcast "
        "customer dim, aggregated per nation (batch join oracle)."
    ),
)
def events_stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_enrich_events(spark, sf_dir)


_DAILY_ROLLUP_ORACLE = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS events,
           TRUE AS hll_ok
    FROM events GROUP BY 1
"""


def _daily_rollup_invariant(sketch_daily: DataFrame, events: DataFrame) -> DataFrame:
    """Join a sketch-table daily rollup (bucket_ts, approx_users,
    events) with the exact daily twin and emit the driver-hashable
    invariant row set."""
    exact = events.groupBy(F.date_trunc("day", "ts").alias("bucket_ts")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return sketch_daily.join(exact, "bucket_ts").select(
        "bucket_ts",
        "exact_users",
        "events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(HLL_REL_ERR) * F.col("exact_users")
        ).alias("hll_ok"),
    )


@register(
    "events_daily_users_rollup",
    oracle=_DAILY_ROLLUP_ORACLE,
    doc=(
        "Daily distinct users answered from a PERSISTED hourly HLL "
        "sketch table (no fact rescan), with exact-twin counts and an "
        "estimate-within-5% invariant boolean."
    ),
)
def events_daily_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate rollup pattern (operators/rollup.py):
    one O(fact) pass persists per-HOUR HLL sketches; the daily answer
    is hll_union_agg over the sketch table alone. At 100 TB this is the
    only sane shape for "distinct users per <any grain>" dashboards —
    the fact table is scanned once per refresh, not once per grain.

    Driver-checkable invariant shape: the sketch estimate is
    engine-specific, so the hashed columns are the exact daily twin
    (recomputed from events — verification harness, not the scale
    path) plus ``hll_ok`` asserting the rolled-up estimate lands within
    HLL_REL_ERR of it."""
    from etl_mudah_spark.operators import rollup as ru

    events = load(spark, sf_dir, "events")
    scratch = scratch_dir("events_daily_users_rollup", sf_dir)
    ru.build_sketch_table(events, scratch, grain="hour")
    daily = ru.rollup_distinct(spark, scratch, grain="day")
    return _daily_rollup_invariant(daily, events)


@register(
    "events_stream_users_rollup",
    oracle=_DAILY_ROLLUP_ORACLE,
    doc=(
        "Streaming twin of events_daily_users_rollup: hourly HLL "
        "sketches maintained by a Structured Streaming query, rolled "
        "up to daily by sketch union (same oracle — streaming == "
        "batch)."
    ),
)
def events_stream_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental form of the continuous aggregate: the hourly
    sketch table is maintained BY A STREAM (each micro-batch merges new
    events into fixed-size per-hour HLL state — no distinct-user set
    ever materializes), then daily answers come from unioning staged
    sketches. streaming == batch is the Structured Streaming contract,
    so the oracle is identical to the batch rollup's."""
    sketches = stream_hourly_user_sketches(spark, sf_dir)
    daily = sketches.groupBy(
        F.date_trunc("day", "bucket_ts").alias("bucket_ts")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.sum("events").alias("events"),
    )
    return _daily_rollup_invariant(daily, load(spark, sf_dir, "events"))


# Rank-error band for the approx-percentile invariant: accuracy=10000
# bounds rank error at 1e-4, so the estimate must land between the
# exact (p-0.01) and (p+0.01) percentiles with two orders of margin.
_Q_PS = (0.5, 0.95, 0.99)
_Q_LO = (0.49, 0.94, 0.98)
_Q_HI = (0.51, 0.96, 1.0)


@register(
    "events_value_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(quantile_cont(value, 0.99), 4) AS p99,
           CAST(COUNT(*) AS BIGINT) AS events,
           TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
    doc=(
        "Exact p50/p95/p99 of event value per type plus a boolean "
        "asserting the GK approx_percentile sketch lands inside the "
        "±0.01 rank band."
    ),
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketches (GK) — like HLL, a bounded-size mergeable
    partial whose error is tunable via accuracy; the exact percentile
    needs a full per-group sort and is the verification twin here (the
    sketch is the 100 TB path). `approx_ok` asserts each sketch value
    sits between the exact (p-0.01) and (p+0.01) percentiles —
    accuracy=10000 guarantees rank error <= 1e-4, so the band has two
    orders of slack. Tolerances also pinned in tests/test_sketches.py."""
    events = load(spark, sf_dir, "events")
    arr = lambda ps: F.array(*[F.lit(p) for p in ps])  # noqa: E731
    agg = events.groupBy("event_type").agg(
        F.percentile_approx("value", arr(_Q_PS), 10_000).alias("a"),
        F.percentile("value", arr(_Q_PS)).alias("e"),
        F.percentile("value", arr(_Q_LO)).alias("lo"),
        F.percentile("value", arr(_Q_HI)).alias("hi"),
        F.count("*").alias("events"),
    )
    in_band = [
        (F.col("a")[i] >= F.col("lo")[i]) & (F.col("a")[i] <= F.col("hi")[i])
        for i in range(len(_Q_PS))
    ]
    ok = in_band[0] & in_band[1] & in_band[2]
    return agg.select(
        "event_type",
        F.round(F.col("e")[0], 4).alias("p50"),
        F.round(F.col("e")[1], 4).alias("p95"),
        F.round(F.col("e")[2], 4).alias("p99"),
        "events",
        ok.alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (purchase attribution). The batch oracle
# is a plain interval self-join; the streaming plan is identical logic
# with watermarks bounding the join state — see
# streaming/pipeline.py:stream_view_purchase_join.
# ---------------------------------------------------------------------------
_ATTRIBUTION_ORACLE = """
    WITH pairs AS (
        SELECT DISTINCT p.user_id, p.event_id
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, COUNT(*) AS attributed_purchases
    FROM pairs GROUP BY user_id
    """


@register(
    "events_attribution",
    oracle=_ATTRIBUTION_ORACLE,
    doc="Purchases attributed to a prior view within 30 min (batch interval join).",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    pairs = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return (
        pairs.select("p_user", "p_id")
        .distinct()
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("attributed_purchases"))
    )


@register(
    "events_stream_attribution",
    oracle=_ATTRIBUTION_ORACLE,
    doc="Same attribution via a watermarked stream-stream interval join.",
)
def events_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_view_purchase_join(spark, sf_dir)


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS c_ts
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.v_ts
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        GROUP BY e.user_id
    )
    SELECT CAST(COUNT(v.v_ts) AS BIGINT) AS n_view_users,
           CAST(COUNT(c.c_ts) AS BIGINT) AS n_click_users,
           CAST(COUNT(p.p_ts) AS BIGINT) AS n_purchase_users,
           CAST(COALESCE(SUM(date_diff('second', v.v_ts, p.p_ts)), 0) AS BIGINT)
               AS sum_seconds_to_purchase
    FROM v
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
    doc="Ordered view->click->purchase funnel: stage counts + total conversion time.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel: first view, then the first
    click AFTER that view, then the first purchase AFTER that click —
    per user, aggregated to stage survival counts plus total
    view-to-purchase seconds (an exact integer — no float average to
    disagree on at the last digit).

    Scale: the naive form (per-stage agg + join back) scans events five
    times and shuffles five times; here each stage threshold is a
    conditional MIN window over the SAME user_id partitioning, so the
    whole funnel is ONE scan and ONE exchange — the three window passes
    and the per-user collapse all reuse it (audited: a single Exchange
    hashpartitioning(user_id) in the physical plan)."""
    w = W.partitionBy("user_id")
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .where(F.col("event_type").isin("view", "click", "purchase"))
    )
    staged = (
        ev.withColumn(
            "v_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "c_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "p_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    funnel = staged.where(F.col("v_ts").isNotNull()).groupBy("user_id").agg(
        F.first("v_ts").alias("v_ts"),
        F.first("c_ts").alias("c_ts"),
        F.first("p_ts").alias("p_ts"),
    )
    return funnel.agg(
        F.count("v_ts").alias("n_view_users"),
        F.count("c_ts").alias("n_click_users"),
        F.count("p_ts").alias("n_purchase_users"),
        F.coalesce(
            F.sum(F.col("p_ts").cast("long") - F.col("v_ts").cast("long")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_seconds_to_purchase"),
    )


@register(
    "events_retention",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS act_w FROM events
    ), coh AS (
        SELECT user_id, act_w,
               MIN(act_w) OVER (PARTITION BY user_id) AS cohort_week
        FROM act
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, act_w) / 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM coh GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Weekly cohort retention: active users per (cohort week, week offset).",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention, the standard product-analytics triangle: users
    are cohorted by the week of their first event; each later active
    week counts them under (cohort_week, week_offset).

    Count(*) over distinct (user, week) pairs IS the distinct-user
    count — no countDistinct shuffle needed. Plan: one distinct
    exchange on the (user, week) pair, a window min per user, and the
    final small agg; cohorting is min-over-window, not a join back to a
    first-seen table, so the event scan happens exactly once."""
    act = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("act_w"))
        .distinct()
    )
    coh = act.withColumn(
        "cohort_week", F.min("act_w").over(W.partitionBy("user_id"))
    )
    return (
        coh.select(
            "cohort_week",
            (F.datediff("act_w", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_anomaly",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
               (CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE)
                - CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                  * CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
               / (COUNT(*) - 1) AS sigma2,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(s.n AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN (e.value - s.mu) * (e.value - s.mu) > 9 * s.sigma2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(MAX(CASE WHEN (e.value - s.mu) * (e.value - s.mu) > 9 * s.sigma2
                         THEN e.value END) AS DOUBLE) AS max_outlier_value
    FROM events e JOIN stats s USING (event_type)
    GROUP BY e.event_type, s.n
    ORDER BY e.event_type
    """,
    doc="Per-type 3-sigma outlier counts (z-score anomaly detection).",
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging, the monitoring-pipeline staple: per
    event type, count values beyond 3 sample standard deviations of
    that type's mean.

    The per-type (mu, sigma², n) table is 5 rows — computed with one
    grouped agg and BROADCAST back onto the fact scan, so the second
    pass is map-only: no re-shuffle of events, and at 100 TB the two
    passes are two scans (or one, if the consumer caches). The exact-
    bigint outlier counts demand a bit-identical 3σ boundary, so mu
    and sigma² derive from ORDER-INDEPENDENT decimal sums (Σx, Σx²) —
    native avg/stddev accumulate doubles in engine-specific order and
    can flip a borderline event (the davg/dsum discipline,
    functions/core.py). The predicate squares both sides ((v−mu)² >
    9σ²): identical IEEE double ops on identical inputs, no abs/sqrt."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    sum_x = F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
    sum_x2 = F.sum(
        (F.col("value") * F.col("value")).cast("decimal(28,10)")
    ).cast("double")
    n = F.count("*")
    stats = ev.groupBy("event_type").agg(
        (sum_x / n).alias("mu"),
        ((sum_x2 - sum_x * sum_x / n) / (n - 1)).alias("sigma2"),
        n.alias("n_events"),
    )
    dev = F.col("value") - F.col("mu")
    is_out = dev * dev > 9 * F.col("sigma2")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n_events")
        .agg(
            F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.max(F.when(is_out, F.col("value"))).cast("double").alias(
                "max_outlier_value"
            ),
        )
        .select("event_type", F.col("n_events").cast("bigint"), "n_outliers", "max_outlier_value")
        .orderBy("event_type")
    )


@register(
    "events_hourly_dense",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        FROM bounds
    ), agg AS (
        SELECT date_trunc('hour', ts) AS hour_start,
               COUNT(*) AS cnt
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.hour_start, CAST(COALESCE(a.cnt, 0) AS BIGINT) AS cnt
    FROM spine s LEFT JOIN agg a USING (hour_start)
    ORDER BY s.hour_start
    """,
    doc="Gap-filled hourly purchase counts over a generated time spine.",
)
def events_hourly_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (zero-filled) time series — the shape every monitoring
    chart and forecasting model needs, and a grouped count alone can't
    produce: hours with no purchases must appear as 0, so the hour
    spine is GENERATED (sequence + explode over the min/max bounds)
    and the sparse aggregate left-joins onto it.

    Scale: the bounds are a 1-row agg, the spine is O(hours) rows
    exploded from that one row (a few thousand rows per year —
    driver-free and broadcast-size), and the sparse agg left-joins
    broadcast onto it. The events scan is the only big input and it
    aggregates before any join."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    agg = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count("*").alias("cnt"))
    )
    return (
        spine.join(agg, "hour_start", "left")
        .select("hour_start", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"))
        .orderBy("hour_start")
    )


@register(
    "events_stream_unconverted",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS unconverted_views
    FROM v
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.ts >= v.ts
          AND p.ts <= v.ts + INTERVAL 30 MINUTE
    )
    GROUP BY v.user_id
    """,
    doc=(
        "Left-outer watermarked stream-stream join: views with no "
        "purchase within 30 min, per user (abandonment counting)."
    ),
)
def events_stream_unconverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_mudah_spark.streaming.stateful import stream_unconverted_views

    return stream_unconverted_views(spark, sf_dir, window_minutes=30)


# ---------------------------------------------------------------------------
# Islands & gaps: per-user runs of CONSECUTIVE active days (the
# date-arithmetic sibling of gap-based sessionization — sessionize
# groups by time proximity, islands by calendar adjacency). Classic
# row_number anchor trick: within a user, day_index − row_number is
# constant exactly across a consecutive run, so one per-user window +
# one groupBy produce every (start, end, length) island. Scale: the
# window partitions by user_id (distributed, one key shuffle over the
# DISTINCT (user, day) pairs — already aggregate-sized, ≤ users×days),
# never a global sort. The dense-calendar alternative (generate a
# spine, anti-join) scans a generated table; this shape touches only
# observed days.
# ---------------------------------------------------------------------------
@register(
    "events_activity_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), anchored AS (
      SELECT user_id, d,
             datediff('day', DATE '2024-01-01', CAST(d AS DATE))
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS anchor
      FROM days
    )
    SELECT user_id, MIN(d) AS start_day, MAX(d) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM anchored GROUP BY user_id, anchor
    ORDER BY user_id, start_day
    """,
    doc=(
        "Islands & gaps: per-user maximal runs of consecutive active "
        "days via the row_number anchor trick."
    ),
)
def events_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    anchored = days.withColumn(
        "anchor", F.datediff(F.col("d"), F.lit("2024-01-01")) - rn
    )
    return (
        anchored.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("start_day"),
            F.max("d").alias("end_day"),
            F.count("*").alias("n_days"),
        )
        .select("user_id", "start_day", "end_day", "n_days")
        .orderBy("user_id", "start_day")
    )


# ---------------------------------------------------------------------------
# Resample + linear interpolation: the dense-spine series with MISSING
# hours filled by interpolating between the nearest observed
# neighbors (ffill/bfill at the edges) — what a forecasting input or
# monitoring chart needs when zeros would be a lie (no purchases
# observed ≠ purchases were zero… for a sampled feed). Mechanics:
# carry (last observed value, its hour) forward and (first observed
# value, its hour) backward with IGNORE-NULLS windows, then the
# two-point line formula. Scale: like daily_revenue_moving_avg the
# ordered window runs over the POST-AGGREGATION series — O(calendar
# hours) rows regardless of event volume — so the single-partition
# window is deliberate (audited exemption); the fact scan aggregates
# before anything global. Both engines mirror the arithmetic
# expression exactly (decimal-exact hourly sums, double-only at the
# interpolation step).
# ---------------------------------------------------------------------------
@register(
    "events_hourly_interpolated",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        FROM bounds
    ), agg AS (
        SELECT date_trunc('hour', ts) AS hour_start,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), j AS (
        SELECT s.hour_start,
               CAST(floor(epoch(s.hour_start)) AS BIGINT) AS h, a.v
        FROM spine s LEFT JOIN agg a USING (hour_start)
    ), wnd AS (
        SELECT hour_start, h, v,
               last_value(v IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wp AS prev_h,
               first_value(v IGNORE NULLS) OVER wf AS next_v,
               first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wf AS next_h
        FROM j
        WINDOW wp AS (ORDER BY hour_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (ORDER BY hour_start
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT hour_start,
           CASE WHEN v IS NOT NULL THEN v
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                     THEN prev_v + (next_v - prev_v)
                          * ((h - prev_h) / CAST(next_h - prev_h AS DOUBLE))
                WHEN prev_v IS NOT NULL THEN prev_v
                ELSE next_v END AS value_interp,
           v IS NULL AS interpolated
    FROM wnd ORDER BY hour_start
    """,
    doc=(
        "Hourly purchase-value series, gaps filled by linear "
        "interpolation between nearest observed hours (ffill/bfill edges)."
    ),
)
def events_hourly_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_start"
        )
    )
    agg = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(dsum("value").alias("v"))
    )
    j = spine.join(agg, "hour_start", "left").select(
        "hour_start", F.col("hour_start").cast("long").alias("h"), "v"
    )
    v = F.col("v")
    marked_h = F.when(v.isNotNull(), F.col("h"))
    wp = W.orderBy("hour_start").rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = W.orderBy("hour_start").rowsBetween(W.currentRow, W.unboundedFollowing)
    wnd = j.select(
        "hour_start",
        "h",
        "v",
        F.last(v, ignorenulls=True).over(wp).alias("prev_v"),
        F.last(marked_h, ignorenulls=True).over(wp).alias("prev_h"),
        F.first(v, ignorenulls=True).over(wf).alias("next_v"),
        F.first(marked_h, ignorenulls=True).over(wf).alias("next_h"),
    )
    prev_v, next_v = F.col("prev_v"), F.col("next_v")
    ratio = (F.col("h") - F.col("prev_h")) / (
        F.col("next_h") - F.col("prev_h")
    ).cast("double")
    interp = (
        F.when(v.isNotNull(), v)
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * ratio,
        )
        .when(prev_v.isNotNull(), prev_v)
        .otherwise(next_v)
    )
    return wnd.select(
        "hour_start",
        interp.alias("value_interp"),
        v.isNull().alias("interpolated"),
    ).orderBy("hour_start")


@register(
    "events_key_skew",
    oracle="""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ), stats AS (
        SELECT COUNT(*) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS total,
               CAST(MAX(c) AS BIGINT) AS max_cnt
        FROM counts
    ), hot AS (
        SELECT MIN(user_id) AS hot_key
        FROM counts, stats WHERE c = max_cnt
    )
    SELECT n_keys, total, max_cnt, hot_key,
           ROUND(total * 1.0 / n_keys, 4) AS avg_cnt,
           ROUND(max_cnt * 1.0 * n_keys / total, 4) AS skew_ratio,
           ROUND(100.0 * max_cnt / total, 4) AS top_share_pct
    FROM stats, hot
    """,
    doc=(
        "Partition-key skew report for events.user_id: key count, "
        "hottest key, max/mean ratio, hottest key's share."
    ),
)
def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diagnostic that decides WHEN the salted path
    (operators/skew.py, salted_event_totals) is worth its second
    shuffle: one row of key-distribution facts for the natural shuffle
    key. ``skew_ratio`` (hottest key's count over the mean) is the
    same statistic ivf_maintain thresholds on for rebuilds — past ~4
    the straggler task dominates stage wall-clock and salting/AQE skew
    handling pays for itself.

    Plan shape: one map-side-combined count shuffle on the key; the
    three scalar stats fold from the (key-cardinality-sized) count
    table; the hottest-key lookup re-filters that same table against
    the 1-row broadcast stats (deterministic min-key tie-break) — no
    driver collect, no second scan of the raw table.
    """
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
    )
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("total"),
        F.max("c").alias("max_cnt"),
    )
    hot = (
        counts.crossJoin(F.broadcast(stats.select("max_cnt")))
        .where(F.col("c") == F.col("max_cnt"))
        .agg(F.min("user_id").alias("hot_key"))
    )
    return stats.crossJoin(F.broadcast(hot)).select(
        "n_keys",
        "total",
        "max_cnt",
        "hot_key",
        F.round(F.col("total") * 1.0 / F.col("n_keys"), 4).alias("avg_cnt"),
        F.round(F.col("max_cnt") * 1.0 * F.col("n_keys") / F.col("total"), 4).alias(
            "skew_ratio"
        ),
        F.round(100.0 * F.col("max_cnt") / F.col("total"), 4).alias(
            "top_share_pct"
        ),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ), trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ), totals AS (
        SELECT from_type, SUM(n_transitions) AS total FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n_transitions AS BIGINT) AS n_transitions,
           t.n_transitions * 1.0 / tot.total AS prob
    FROM trans t JOIN totals tot USING (from_type)
    ORDER BY from_type, to_type
    """,
    doc=(
        "First-order Markov transition matrix of per-user event-type "
        "sequences: counts and row-normalized probabilities for every "
        "(from, to) pair."
    ),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey structure as a transition matrix — the behavioral
    model under funnel/attribution analyses (events_funnel,
    events_attribution) made explicit: P(next event type | current).
    One lag window PARTITIONED BY user (bounded partitions — never a
    global sort), one (from, to) count shuffle with map-side partials,
    and the 25-row matrix row-normalized through a broadcast of the
    per-source totals. Ties in ts break on event_id, so the sequence —
    and therefore every count — is deterministic in both engines."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    seq = ev.withColumn(
        "prev_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_total")
    )
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            (F.col("n_transitions") * 1.0 / F.col("_total")).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


_CMS_W_EV = 2048
# seed VALUES for the 4 hash rows, shared with operators/sketch.py
from etl_mudah_spark.operators import sketch as _sk  # noqa: E402

_CMS_SEEDS_EV = ", ".join(
    f"({i}, {s})" for i, s in enumerate(_sk.CMS_SEEDS[:4])
)


@register(
    "events_stream_cms_users",
    oracle=f"""
    WITH seeds(rw, sd) AS (VALUES {_CMS_SEEDS_EV}),
    base AS (
        SELECT event_type AS g, user_id AS key FROM events
    ), x0 AS (
        SELECT g, key, rw, xor(key, sd) % {_sk.HLL_M} AS x
        FROM base CROSS JOIN seeds
    ), m1 AS (
        SELECT g, key, rw, (xor(x >> 16, x) * {_sk.HLL_MULT}) % {_sk.HLL_M} AS x
        FROM x0
    ), m2 AS (
        SELECT g, key, rw, (xor(x >> 16, x) * {_sk.HLL_MULT}) % {_sk.HLL_M} AS x
        FROM m1
    ), h AS (
        SELECT g, key, rw, xor(x >> 16, x) % {_CMS_W_EV} AS col FROM m2
    ), cnt AS (
        SELECT g, rw, col, COUNT(*) AS c FROM h GROUP BY 1, 2, 3
    ), kcell AS (
        SELECT DISTINCT g, key, rw, col FROM h
    ), est AS (
        SELECT k.g, k.key, MIN(c.c) AS cms_count
        FROM kcell k JOIN cnt c ON c.g = k.g AND c.rw = k.rw AND c.col = k.col
        GROUP BY 1, 2
    ), exact AS (
        SELECT g, key, COUNT(*) AS exact_cnt FROM base GROUP BY 1, 2
    ), top AS (
        SELECT g, key, exact_cnt,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY exact_cnt DESC, key)
                   AS rn
        FROM exact
    )
    SELECT t.g AS event_type, t.key AS user_id,
           CAST(t.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_count AS BIGINT) AS cms_count
    FROM top t JOIN est e ON e.g = t.g AND e.key = t.key
    WHERE t.rn <= 5
    ORDER BY event_type, exact_cnt DESC, user_id
    """,
    doc=(
        "Streaming-maintained Count-Min sketch of per-type user "
        "activity: micro-batch counters merged by linear union-SUM, "
        "probed for the top-5 users per type — the maintained state "
        "equals the batch sketch cell-for-cell, so the oracle "
        "reproduces even the estimates exactly."
    ),
)
def events_stream_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of orders_cms_heavy_customers: a REAL
    Structured Streaming query maintains the (event_type, row, col)
    counter table via foreachBatch union-SUM merges into immutable
    versioned state (streaming/pipeline.py stream_cms_counters) — the
    CMS's linearity means the maintained state after all batches IS
    the batch sketch, so the estimates probed from it hash-match the
    batch oracle exactly. Bounded state (depth×width rows per type)
    forever — the sketch-backed streaming rollup shape that replaces
    an unbounded per-user count table."""
    from etl_mudah_spark.operators import sketch as sk
    from etl_mudah_spark.streaming.pipeline import stream_cms_counters

    counters = stream_cms_counters(
        spark, sf_dir, ["event_type"], "user_id", width=_CMS_W_EV, depth=4
    )
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    exact = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("exact_cnt")
    )
    top = (
        exact.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(
                    F.desc("exact_cnt"), F.asc("user_id")
                )
            ),
        )
        .where(F.col("_rn") <= 5)
        .drop("_rn")
    )
    est = sk.cms_estimate(
        counters,
        top.select("event_type", "user_id"),
        ["event_type"],
        "user_id",
        width=_CMS_W_EV,
        depth=4,
    )
    return (
        top.join(est, ["event_type", "user_id"])
        .select(
            "event_type",
            "user_id",
            "exact_cnt",
            F.col("cms_count").cast("bigint").alias("cms_count"),
        )
        .orderBy("event_type", F.desc("exact_cnt"), "user_id")
    )


@register(
    "events_value_winsorized",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY 1
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           COUNT(*) FILTER (value < lo) AS n_clipped_low,
           COUNT(*) FILTER (value > hi) AS n_clipped_high,
           ROUND(ANY_VALUE(lo), 4) AS lo_bound,
           ROUND(ANY_VALUE(hi), 4) AS hi_bound,
           {oracle_dsum('value')} / COUNT(*) AS mean_raw,
           {oracle_dsum(
               'CASE WHEN value < lo THEN lo '
               'WHEN value > hi THEN hi ELSE value END'
           )} / COUNT(*) AS mean_w
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    ORDER BY event_type
    """,
    doc=(
        "Per-type percentile winsorization (clip at [p05, p95]): "
        "clipped-row counts, bounds, and the mean before/after — the "
        "heavy-tail outlier treatment for training features."
    ),
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-prep winsorization (ml/features.py winsorize): exact
    per-group percentile bounds via one map-side-combinable aggregate,
    broadcast back, values clipped in place. The persistable bounds
    table is the point — serving data clips with TRAINING bounds.
    Means use the decimal lattice; the interpolated bounds round to
    4dp in the output (algorithm-dependent values, per the float
    policy)."""
    from etl_mudah_spark.ml.features import winsorize

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    w = winsorize(ev, "value", ["event_type"], 0.05, 0.95)
    return (
        w.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("value") < F.col("value_lo"), 1)).alias(
                "n_clipped_low"
            ),
            F.count(F.when(F.col("value") > F.col("value_hi"), 1)).alias(
                "n_clipped_high"
            ),
            F.round(F.first("value_lo"), 4).alias("lo_bound"),
            F.round(F.first("value_hi"), 4).alias("hi_bound"),
            (dsum("value") / F.count("*")).alias("mean_raw"),
            (dsum("value_w") / F.count("*")).alias("mean_w"),
        )
        .orderBy("event_type")
    )


_DRIFT_PSI_ORACLE = """
    WITH binned AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                    THEN 'ref' ELSE 'cur' END AS side,
               greatest(0, least(10, CAST(floor(value / 25.0) AS INT))) AS bin
        FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT bin,
               SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS ref_cnt,
               SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS cur_cnt
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT SUM(ref_cnt) AS ref_n, SUM(cur_cnt) AS cur_n FROM g
    )
    SELECT bin,
           CAST(ref_cnt AS BIGINT) AS ref_cnt,
           CAST(cur_cnt AS BIGINT) AS cur_cnt,
           (ref_cnt + 1) * 1.0 / (ref_n + 11) AS p_ref,
           (cur_cnt + 1) * 1.0 / (cur_n + 11) AS p_cur,
           ((cur_cnt + 1) * 1.0 / (cur_n + 11)
               - (ref_cnt + 1) * 1.0 / (ref_n + 11))
             * ln(((cur_cnt + 1) * 1.0 / (cur_n + 11))
                  / ((ref_cnt + 1) * 1.0 / (ref_n + 11))) AS psi_term,
           ((cur_cnt + 1) * 1.0 / (cur_n + 11))
             * ln(((cur_cnt + 1) * 1.0 / (cur_n + 11))
                  / ((ref_cnt + 1) * 1.0 / (ref_n + 11))) AS kl_term
    FROM g CROSS JOIN tot
    ORDER BY bin
    """


@register(
    "events_value_drift_psi",
    oracle=_DRIFT_PSI_ORACLE,
    doc=(
        "Population-stability drift of event value, first half of "
        "January (ref) vs the rest (cur): fixed 25-wide bins, "
        "Laplace-smoothed proportions, per-bin PSI and KL(cur||ref) "
        "contributions."
    ),
)
def events_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain-gate drift check (operators/drift.py): has the
    value distribution moved between the reference window (before
    Jan 15) and the current window? Fixed literal bin edges — NOT
    data-dependent quantiles, which would make the edges themselves a
    float race — so each side collapses to <=11 bin counts in one
    map-side-combined aggregation; the bin join and 1-row totals are
    constant-size at any corpus scale. Every emitted double is pure
    count-ratio arithmetic on exact bigints, identical across
    engines."""
    from etl_mudah_spark.operators.drift import psi_bins

    ev = load(spark, sf_dir, "events").select("ts", "value")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")
    ref = ev.where(F.col("ts") < split)
    cur = ev.where(F.col("ts") >= split)
    return psi_bins(ref, cur, "value", lo=0.0, width=25.0, n_bins=11)


@register(
    "events_user_paths",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 10
    """,
    doc=(
        "Top-10 opening event sequences: each user's first three "
        "events (by ts, event_id) concatenated into a path, counted "
        "across users — the entry-funnel mining query."
    ),
)
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining over the event log: what do users DO first.
    One user-partitioned ranking window (hash-partitioned on the key,
    never global), then a per-user ordered aggregation: collect the
    ≤3 (rn, type) structs, array_sort — struct comparison orders by
    rn first, making the concat order deterministic without a second
    window — and count identical paths. Two key shuffles total
    (user, then path) with map-side partials; top-10 is TakeOrdered.
    The deterministic (ts, event_id) tiebreak matches the oracle's
    ORDER BY inside string_agg."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    ranked = ev.withColumn("rn", rn).where(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(10)
    )


@register(
    "events_stream_drift_psi",
    oracle=_DRIFT_PSI_ORACLE,
    doc=(
        "The same PSI drift table maintained by a Structured "
        "Streaming aggregation: constant-size (side, bin) state, "
        "finished through the identical batch arithmetic."
    ),
)
def events_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_value_drift_psi
    (streaming/pipeline.stream_value_drift_bins): the stream keeps
    2·n_bins running counts — state is the BIN DOMAIN, constant no
    matter how long the stream runs, which is exactly why the drift
    operator uses fixed literal bins — and the drained counts finish
    through operators/drift.psi_from_counts, the same formulas the
    batch query and the oracle compute. Streaming == batch, pinned by
    the shared oracle hash."""
    from etl_mudah_spark.streaming.pipeline import stream_value_drift_bins

    return stream_value_drift_bins(spark, sf_dir)


@register(
    "events_value_ks_drift",
    oracle="""
    WITH u AS (
        SELECT value AS v,
               CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                    THEN 1 ELSE 0 END AS ia,
               CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                    THEN 0 ELSE 1 END AS ib
        FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT v, SUM(ia) AS ca, SUM(ib) AS cb FROM u GROUP BY v
    ), c AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v) AS cuma,
               SUM(cb) OVER (ORDER BY v) AS cumb
        FROM g
    ), t AS (
        SELECT SUM(ca) AS na, SUM(cb) AS nb FROM g
    ), d AS (
        SELECT v, abs(cuma * nb - cumb * na) AS diff FROM c CROSS JOIN t
    ), m AS (
        SELECT diff AS ks_num, v AS at_value FROM d
        ORDER BY diff DESC, v ASC LIMIT 1
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           CAST(m.ks_num AS BIGINT) AS ks_num,
           CAST(m.ks_num AS DOUBLE)
               / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)) AS ks_d,
           m.at_value
    FROM t CROSS JOIN m
    """,
    doc=(
        "Exact two-sample Kolmogorov-Smirnov drift of event value, "
        "first half of January vs the rest: max CDF gap as an exact "
        "integer numerator, the value where it occurs, and D."
    ),
)
def events_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binning-free companion to events_value_drift_psi
    (operators/drift.ks_2samp_exact): PSI reports mass moved between
    FIXED bins (and so inherits the bin choice); KS reports the worst
    pointwise CDF gap over the pooled distinct values with no binning
    decision at all. The maximized quantity |cum_a·n_b − cum_b·n_a|
    is an exact integer, so the argmax — and the lexicographic
    (diff, −value) tie-break — is deterministic at any partition
    order; D is the one float division. Same split literal as the PSI
    gate, so the two queries read identical windows. Plan: one pooled
    value aggregation, two two-phase bucketed prefix sums (floor(v)
    buckets — value spans [0, ~300], a bounded bucket domain), a
    1-row totals broadcast, one aggregate. No global window, no
    collect."""
    from etl_mudah_spark.operators.drift import ks_2samp_exact

    ev = load(spark, sf_dir, "events").select("ts", "value")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return ks_2samp_exact(
        ev.where(F.col("ts") < split),
        ev.where(F.col("ts") >= split),
        "value",
    )


@register(
    "events_stream_ks_binned",
    oracle="""
    WITH binned AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                    THEN 'ref' ELSE 'cur' END AS side,
               greatest(0, least(10, CAST(floor(value / 25.0) AS INT))) AS bin
        FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT bin,
               SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS ref_cnt,
               SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS cur_cnt
        FROM binned GROUP BY bin
    ), c AS (
        SELECT bin,
               SUM(ref_cnt) OVER (ORDER BY bin) AS cr,
               SUM(cur_cnt) OVER (ORDER BY bin) AS cc
        FROM g
    ), t AS (
        SELECT SUM(ref_cnt) AS nr, SUM(cur_cnt) AS nc FROM g
    ), d AS (
        SELECT bin, abs(cr * nc - cc * nr) AS diff FROM c CROSS JOIN t
    ), m AS (
        SELECT diff AS ks_num, bin AS at_bin FROM d
        ORDER BY diff DESC, bin ASC LIMIT 1
    )
    SELECT CAST(t.nr AS BIGINT) AS n_ref, CAST(t.nc AS BIGINT) AS n_cur,
           CAST(m.ks_num AS BIGINT) AS ks_num,
           CAST(m.ks_num AS DOUBLE)
               / (CAST(t.nr AS DOUBLE) * CAST(t.nc AS DOUBLE)) AS ks_binned,
           CAST(m.at_bin AS INT) AS at_bin
    FROM t CROSS JOIN m
    """,
    doc=(
        "Streaming binned-KS drift: the (side, bin) stream state of "
        "the PSI monitor finished as the max CDF gap at the fixed bin "
        "boundaries — the constant-state lower bound of the exact KS."
    ),
)
def events_stream_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third leg of the drift family: PSI (mass moved per bin),
    exact KS (worst CDF gap, needs distinct values), and this — the
    KS shape of the question under STREAMING constraints, where state
    must stay constant-size, so the gap is evaluated only at the
    n_bins fixed boundaries and is a certified lower bound of the
    exact D (coarsening hides gaps, never invents them; compare
    events_value_ks_drift at the same split). Same integer
    |cum_ref·n_cur − cum_cur·n_ref| maximization with the (diff,
    −bin) tie-break; the cumsum window touches ≤ 11 count rows. The
    stream and the batch oracle compute identical arithmetic — the
    same streaming == batch contract the PSI twin pins."""
    from etl_mudah_spark.streaming.pipeline import stream_value_ks_binned

    return stream_value_ks_binned(spark, sf_dir)


@register(
    "events_value_mad_outliers",
    oracle="""
    WITH v AS (
        SELECT value AS x FROM events WHERE value IS NOT NULL
    ), t AS (
        SELECT COUNT(*) AS n FROM v
    ), g AS (
        SELECT x, COUNT(*) AS c FROM v GROUP BY x
    ), c1 AS (
        SELECT x, SUM(c) OVER (ORDER BY x) AS cum FROM g
    ), m AS (
        SELECT MIN(x) AS med FROM c1 CROSS JOIN t WHERE 2 * cum >= n
    ), a AS (
        SELECT abs(v.x - m.med) AS d FROM v CROSS JOIN m
    ), g2 AS (
        SELECT d, COUNT(*) AS c FROM a GROUP BY d
    ), c2 AS (
        SELECT d, SUM(c) OVER (ORDER BY d) AS cum FROM g2
    ), t2 AS (
        SELECT COUNT(*) AS n FROM a
    ), m2 AS (
        SELECT MIN(d) AS mad FROM c2 CROSS JOIN t2 WHERE 2 * cum >= n
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           m.med AS median,
           m2.mad AS mad,
           CAST(SUM(CASE WHEN a.d > (m2.mad * 3.5) / 0.6745
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           SUM(CASE WHEN a.d > (m2.mad * 3.5) / 0.6745
                    THEN 1 ELSE 0 END) * 100.0 / t.n AS outlier_pct
    FROM a CROSS JOIN m CROSS JOIN m2 CROSS JOIN t
    GROUP BY t.n, m.med, m2.mad
    """,
    doc=(
        "Robust outlier gate on event value: exact lower median, exact "
        "MAD, and the count of |x - med| > 3.5 MAD / 0.6745 (the "
        "modified z-score rule) — mean/stddev-free, so the outliers "
        "cannot mask themselves."
    ),
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust twin of z-score outlier filters: mean and stddev are
    themselves dragged by the outliers they hunt; median and MAD have
    a 50% breakdown point. Both centers are EXACT lower medians via
    operators/quantiles.weighted_quantiles_exact with unit weights and
    an empty group list (the grouped two-phase prefix sum degenerates
    to the global one; the selection threshold 2·cum ≥ n is integer
    arithmetic, so both engines pick the identical value — no
    percentile_approx). Three scans by necessity (median, then MAD of
    deviations from it, then the count against the threshold), each a
    map-side-combined value aggregation with the two 1-row centers
    folding in as broadcasts. The 3.5/0.6745 modified z-score rule is
    Iglewicz-Hoaglin; the threshold arithmetic is fixed-shape double
    math on the engine-identical med/mad."""
    from etl_mudah_spark.operators.quantiles import weighted_quantiles_exact

    v = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(F.col("value").alias("x"), F.lit(1).alias("w"))
    )
    med = weighted_quantiles_exact(
        v, [], value_col="x", weight_col="w", quantiles=((1, 2),)
    ).select(
        F.col("n_rows").alias("n"), F.col("q_1_2").alias("median")
    )
    a = v.join(F.broadcast(med)).select(
        "n", "median", F.abs(F.col("x") - F.col("median")).alias("d"), "w"
    )
    mad = weighted_quantiles_exact(
        a, [], value_col="d", weight_col="w", quantiles=((1, 2),)
    ).select(F.col("q_1_2").alias("mad"))
    thr = (F.col("mad") * 3.5) / 0.6745
    flagged = F.sum(F.when(F.col("d") > thr, 1).otherwise(0)).cast("bigint")
    return (
        a.join(F.broadcast(mad))
        .groupBy("n", "median", "mad")
        .agg(flagged.alias("n_outliers"))
        .select(
            "n",
            "median",
            "mad",
            "n_outliers",
            (F.col("n_outliers") * 100.0 / F.col("n")).alias("outlier_pct"),
        )
    )


@register(
    "events_value_quantile_rollup",
    oracle="""
    WITH v AS (
        SELECT value AS x FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT greatest(0, least(39, CAST(floor(x / 25.0) AS INT))) AS bin,
               COUNT(*) AS cnt
        FROM v GROUP BY 1
    ), c AS (
        SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM g
    ), t AS (
        SELECT SUM(cnt) AS n FROM g
    ), h50 AS (
        SELECT bin, cum, cnt FROM c CROSS JOIN t
        WHERE cum * 2 >= n * 1 ORDER BY bin LIMIT 1
    ), h95 AS (
        SELECT bin, cum, cnt FROM c CROSS JOIN t
        WHERE cum * 20 >= n * 19 ORDER BY bin LIMIT 1
    ), h99 AS (
        SELECT bin, cum, cnt FROM c CROSS JOIN t
        WHERE cum * 100 >= n * 99 ORDER BY bin LIMIT 1
    ), e AS (
        SELECT
            0.0 + 25.0 * h50.bin
                + 25.0 * ((t.n * 1 - (h50.cum - h50.cnt) * 2) * 1.0
                          / (h50.cnt * 2)) AS est_p50,
            0.0 + 25.0 * h95.bin
                + 25.0 * ((t.n * 19 - (h95.cum - h95.cnt) * 20) * 1.0
                          / (h95.cnt * 20)) AS est_p95,
            0.0 + 25.0 * h99.bin
                + 25.0 * ((t.n * 99 - (h99.cum - h99.cnt) * 100) * 1.0
                          / (h99.cnt * 100)) AS est_p99
        FROM h50 CROSS JOIN h95 CROSS JOIN h99 CROSS JOIN t
    ), gv AS (
        SELECT x, COUNT(*) AS c FROM v GROUP BY x
    ), cv AS (
        SELECT x, SUM(c) OVER (ORDER BY x) AS cum FROM gv
    ), x50 AS (
        SELECT MIN(x) AS ex FROM cv CROSS JOIN t WHERE 2 * cum >= 1 * n
    ), x95 AS (
        SELECT MIN(x) AS ex FROM cv CROSS JOIN t WHERE 20 * cum >= 19 * n
    ), x99 AS (
        SELECT MIN(x) AS ex FROM cv CROSS JOIN t WHERE 100 * cum >= 99 * n
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           e.est_p50, x50.ex AS exact_p50,
           e.est_p95, x95.ex AS exact_p95,
           e.est_p99, x99.ex AS exact_p99,
           greatest(abs(e.est_p50 - x50.ex), abs(e.est_p95 - x95.ex),
                    abs(e.est_p99 - x99.ex)) AS max_abs_err,
           greatest(abs(e.est_p50 - x50.ex), abs(e.est_p95 - x95.ex),
                    abs(e.est_p99 - x99.ex)) < 25.0 AS within_width
    FROM t CROSS JOIN e CROSS JOIN x50 CROSS JOIN x95 CROSS JOIN x99
    """,
    doc=(
        "Mergeable quantile sketch rollup: per-day fixed-bin "
        "histograms summed to a corpus sketch, p50/p95/p99 "
        "interpolated from it next to their exact twins and the "
        "certified one-bin-width error bound."
    ),
)
def events_value_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third mergeable summary beside the HLL rollup (distinct)
    and the CMS (frequency): operators/sketch.histogram_counters
    builds per-DAY fixed-bin counters in one O(fact) pass; any grain's
    quantiles are then answered from the summed counter table alone —
    the same continuous-aggregate cost model, and unlike
    t-digest/KLL the merge is bit-reproducible (addition of exact
    bigints, no centroid drift), which is why the estimates
    hash-match a DuckDB oracle instead of needing an invariant band.
    histogram_quantiles interpolates inside the integer-selected bin
    (one division of bigints per quantile); the exact twins come from
    the weighted-quantile machinery with unit weights and the
    |est − exact| < width guarantee is emitted as a checked boolean,
    not prose. The cumulative window touches the ≤ 40 counter rows,
    never data."""
    from etl_mudah_spark.operators.quantiles import weighted_quantiles_exact
    from etl_mudah_spark.operators.sketch import (
        histogram_counters,
        histogram_quantiles,
    )

    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    daily = histogram_counters(
        ev, "value", lo=0.0, width=25.0, n_bins=40, group_cols=["day"]
    )
    merged = daily.groupBy("bin").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    ests = histogram_quantiles(
        merged, lo=0.0, width=25.0, quantiles=((1, 2), (19, 20), (99, 100))
    )
    exact = weighted_quantiles_exact(
        ev.where(F.col("value").isNotNull()).select(
            F.col("value").alias("x"), F.lit(1).alias("w")
        ),
        [],
        value_col="x",
        weight_col="w",
        quantiles=((1, 2), (19, 20), (99, 100)),
    ).select(
        F.col("q_1_2").alias("exact_p50"),
        F.col("q_19_20").alias("exact_p95"),
        F.col("q_99_100").alias("exact_p99"),
    )
    err = F.greatest(
        F.abs(F.col("est_p50") - F.col("exact_p50")),
        F.abs(F.col("est_p95") - F.col("exact_p95")),
        F.abs(F.col("est_p99") - F.col("exact_p99")),
    )
    return (
        ests.select(
            "n",
            F.col("est_1_2").alias("est_p50"),
            F.col("est_19_20").alias("est_p95"),
            F.col("est_99_100").alias("est_p99"),
        )
        .join(F.broadcast(exact))
        .select(
            "n",
            "est_p50",
            "exact_p50",
            "est_p95",
            "exact_p95",
            "est_p99",
            "exact_p99",
            err.alias("max_abs_err"),
            (err < 25.0).alias("within_width"),
        )
    )


@register(
    "events_stream_quantile_sketch",
    oracle="""
    WITH v AS (
        SELECT value AS x FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT greatest(0, least(39, CAST(floor(x / 25.0) AS INT))) AS bin,
               COUNT(*) AS cnt
        FROM v GROUP BY 1
    ), c AS (
        SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM g
    ), t AS (
        SELECT SUM(cnt) AS n FROM g
    ), h50 AS (
        SELECT bin, cum, cnt FROM c CROSS JOIN t
        WHERE cum * 2 >= n * 1 ORDER BY bin LIMIT 1
    ), h95 AS (
        SELECT bin, cum, cnt FROM c CROSS JOIN t
        WHERE cum * 20 >= n * 19 ORDER BY bin LIMIT 1
    ), h99 AS (
        SELECT bin, cum, cnt FROM c CROSS JOIN t
        WHERE cum * 100 >= n * 99 ORDER BY bin LIMIT 1
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           0.0 + 25.0 * h50.bin
               + 25.0 * ((t.n * 1 - (h50.cum - h50.cnt) * 2) * 1.0
                         / (h50.cnt * 2)) AS est_1_2,
           0.0 + 25.0 * h95.bin
               + 25.0 * ((t.n * 19 - (h95.cum - h95.cnt) * 20) * 1.0
                         / (h95.cnt * 20)) AS est_19_20,
           0.0 + 25.0 * h99.bin
               + 25.0 * ((t.n * 99 - (h99.cum - h99.cnt) * 100) * 1.0
                         / (h99.cnt * 100)) AS est_99_100
    FROM t CROSS JOIN h50 CROSS JOIN h95 CROSS JOIN h99
    """,
    doc=(
        "Streaming p50/p95/p99 from constant-size histogram state: "
        "the stream maintains fixed-bin counters, the drained sketch "
        "interpolates — identical arithmetic to the batch rollup."
    ),
)
def events_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming leg of the quantile-sketch family
    (streaming/pipeline.stream_value_quantile_sketch): latency
    dashboards want live percentiles, and exact streaming quantiles
    would grow state with distinct values — fixed-bin counters keep
    state at the BIN DOMAIN forever, and the estimates carry the same
    certified one-bin-width bound the batch rollup checks against its
    exact twins (events_value_quantile_rollup). The oracle recomputes
    the identical integer bin selection + interpolation from the batch
    data — streaming == batch, the same contract every stream twin in
    this engine pins."""
    from etl_mudah_spark.streaming.pipeline import stream_value_quantile_sketch

    return stream_value_quantile_sketch(spark, sf_dir)


@register(
    "events_sliding_5min_peak",
    oracle="""
    WITH w AS (
        SELECT date_trunc('minute', ts) - to_minutes(CAST(t.k AS BIGINT))
                   AS window_start
        FROM events, UNNEST(range(5)) AS t(k)
        WHERE ts IS NOT NULL
    ), g AS (
        SELECT window_start, COUNT(*) AS n_events FROM w GROUP BY 1
    )
    SELECT window_start,
           window_start + INTERVAL 5 MINUTE AS window_end,
           CAST(n_events AS BIGINT) AS n_events
    FROM g
    ORDER BY n_events DESC, window_start
    LIMIT 5
    """,
    doc=(
        "Peak 5-minute sliding load (1-minute hop): the five busiest "
        "overlapping windows — burst detection that tumbling hourly "
        "buckets smear away."
    ),
)
def events_sliding_5min_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows via the native F.window(ts, '5
    minutes', '1 minute') — each event lands in exactly five
    epoch-aligned windows, computed JVM-side as a generated expansion
    feeding one hash aggregation with map-side partials (the oracle
    replays the same alignment arithmetic: start =
    minute_floor(ts) − k minutes, k = 0..4). Top-5 is TakeOrdered
    with the window start as the deterministic tie-break. The
    tumbling events_hourly answers 'how much per hour'; this answers
    'when did it BURST' — the 5× row expansion is the standard
    sliding-window cost and stays linear in the slide ratio at any
    corpus size."""
    ev = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
        .orderBy(F.desc("n_events"), "window_start")
        .limit(5)
    )


@register(
    "events_stream_sliding_peak",
    oracle="""
    WITH w AS (
        SELECT date_trunc('minute', ts) - to_minutes(CAST(t.k AS BIGINT))
                   AS window_start
        FROM events, UNNEST(range(5)) AS t(k)
        WHERE ts IS NOT NULL
    ), g AS (
        SELECT window_start, COUNT(*) AS n_events FROM w GROUP BY 1
    )
    SELECT window_start,
           window_start + INTERVAL 5 MINUTE AS window_end,
           CAST(n_events AS BIGINT) AS n_events
    FROM g
    ORDER BY n_events DESC, window_start
    LIMIT 5
    """,
    doc=(
        "Streaming twin of the sliding-window peak: watermarked "
        "append-mode hopping windows, each emitted exactly once when "
        "complete — same top-5 as the batch query, same oracle."
    ),
)
def events_stream_sliding_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection as a stream
    (streaming/pipeline.stream_sliding_5min_counts): the hopping
    windows are finalized by watermark passage and emitted once —
    append mode, the only mode whose sink cost is O(new windows) per
    micro-batch rather than O(all windows) — with the sessionizers'
    late-sentinel staging advancing event time past the tail so the
    last real windows actually flush (a finite file stream would
    otherwise hold them in state forever). Sentinel rows live 10+
    days beyond the data and are excluded by a literal cutoff BEFORE
    the top-5, so the result — and the oracle — are identical to the
    batch events_sliding_5min_peak. streaming == batch, pinned by the
    shared oracle hash."""
    from etl_mudah_spark.streaming.pipeline import stream_sliding_5min_counts

    wins = stream_sliding_5min_counts(spark, sf_dir)
    return (
        wins.where(
            F.col("window_start") < F.lit("2024-02-05 00:00:00").cast("timestamp")
        )
        .orderBy(F.desc("n_events"), "window_start")
        .limit(5)
    )


@register(
    "events_ab_test",
    oracle="""
    WITH per AS (
        SELECT user_id, user_id % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), arms AS (
        SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS ca,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
               SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS cb
        FROM per
    ), r AS (
        SELECT na, ca, nb, cb,
               ca * 1.0 / na AS pa, cb * 1.0 / nb AS pb,
               (ca + cb) * 1.0 / (na + nb) AS pp
        FROM arms
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           pa AS rate_a,
           ((pa + 1.96 * 1.96 / (2.0 * na)) / (1.0 + 1.96 * 1.96 / na))
             - (1.96 * sqrt(pa * (1.0 - pa) / na
                            + 1.96 * 1.96 / (4.0 * na * na))
                / (1.0 + 1.96 * 1.96 / na)) AS wilson_lo_a,
           ((pa + 1.96 * 1.96 / (2.0 * na)) / (1.0 + 1.96 * 1.96 / na))
             + (1.96 * sqrt(pa * (1.0 - pa) / na
                            + 1.96 * 1.96 / (4.0 * na * na))
                / (1.0 + 1.96 * 1.96 / na)) AS wilson_hi_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           pb AS rate_b,
           ((pb + 1.96 * 1.96 / (2.0 * nb)) / (1.0 + 1.96 * 1.96 / nb))
             - (1.96 * sqrt(pb * (1.0 - pb) / nb
                            + 1.96 * 1.96 / (4.0 * nb * nb))
                / (1.0 + 1.96 * 1.96 / nb)) AS wilson_lo_b,
           ((pb + 1.96 * 1.96 / (2.0 * nb)) / (1.0 + 1.96 * 1.96 / nb))
             + (1.96 * sqrt(pb * (1.0 - pb) / nb
                            + 1.96 * 1.96 / (4.0 * nb * nb))
                / (1.0 + 1.96 * 1.96 / nb)) AS wilson_hi_b,
           pa - pb AS lift,
           ((pa - pb) * (pa - pb))
             / NULLIF(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb), 0) AS z2
    FROM r
    """,
    doc=(
        "Two-proportion experiment readout: per-arm (user_id parity) "
        "purchase-conversion rates with Wilson 95% intervals, the "
        "lift, and the pooled z-squared statistic."
    ),
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation readout (ml/metrics.wilson_bounds): users
    split into arms by id parity (stand-in for a real assignment
    column), converted = any purchase above the value-150 line (the
    plain any-purchase definition saturates at 100% on this data —
    a degenerate readout and a 0/0 z²). Conversion is per USER,
    not per event — one aggregation to the user grain, then a single
    conditional-sum reduction (no join at all). Rates and the z²
    statistic are single-division count ratios; the Wilson intervals
    are closed-form with an IEEE-exact sqrt, so every emitted double
    is engine-identical without a lattice. Wilson rather than Wald
    because conversion rates live near the [0,1] edges at small arm
    sizes, where Wald intervals escape the unit range."""
    from etl_mudah_spark.ml.metrics import wilson_bounds

    per = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("arm"), "conv")
    )
    arms = per.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    pa = F.col("ca") * 1.0 / F.col("na")
    pb = F.col("cb") * 1.0 / F.col("nb")
    pp = (F.col("ca") + F.col("cb")) * 1.0 / (F.col("na") + F.col("nb"))
    r = arms.select(
        "na", "ca", "nb", "cb", pa.alias("pa"), pb.alias("pb"), pp.alias("pp")
    )
    lo_a, hi_a = wilson_bounds(F.col("pa"), F.col("na"))
    lo_b, hi_b = wilson_bounds(F.col("pb"), F.col("nb"))
    lift = F.col("pa") - F.col("pb")
    z2 = F.try_divide(
        lift * lift,
        F.col("pp")
        * (1.0 - F.col("pp"))
        * (1.0 / F.col("na") + 1.0 / F.col("nb")),
    )
    return r.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.col("pa").alias("rate_a"),
        lo_a.alias("wilson_lo_a"),
        hi_a.alias("wilson_hi_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.col("pb").alias("rate_b"),
        lo_b.alias("wilson_lo_b"),
        hi_b.alias("wilson_hi_b"),
        lift.alias("lift"),
        z2.alias("z2"),
    )


@register(
    "events_position_attribution",
    oracle="""
    WITH fp AS (
        SELECT user_id, MIN(ts) AS fp_ts
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY user_id
    ), touches AS (
        SELECT e.user_id, e.event_type,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn,
               COUNT(*) OVER (PARTITION BY e.user_id) AS k
        FROM events e JOIN fp ON fp.user_id = e.user_id
        WHERE e.ts < fp.fp_ts
    ), credited AS (
        SELECT user_id, event_type,
               CASE WHEN k = 1 THEN 1.0
                    WHEN k = 2 THEN 0.5
                    WHEN rn = 1 OR rn = k THEN 0.4
                    ELSE 0.2 / (k - 2) END AS credit
        FROM touches
    )
    SELECT event_type,
           CAST(SUM(CAST(credit AS DECIMAL(18,6))) AS DOUBLE)
               AS total_credit,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM credited GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Position-based (40/20/40) multi-touch attribution: credit "
        "for each first purchase split across the user's prior "
        "touchpoints — first and last touch 40% each, the middle "
        "shared — summed per event type."
    ),
)
def events_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution beyond last-touch
    (events_attribution): the 40/20/40 position rule credits
    discovery AND closing, with the middle journey sharing the
    remainder — per-journey credits sum to exactly 1 (k=1 and k=2
    collapse to 1.0 and 0.5/0.5). Touchpoints are the user's events
    strictly before their FIRST purchase, ordered by the
    deterministic (ts, event_id) key; the per-user ranking window is
    hash-partitioned on the key (never global). Credit arithmetic is
    single-division ratios (0.2/(k−2) identical in both engines) and
    the per-type sums ride the decimal lattice. Two shuffles total:
    the first-purchase aggregation and the user-partitioned window;
    the credit aggregation reuses the type key with map-side
    partials."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    fp = (
        ev.where(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp_ts"))
    )
    touches = (
        ev.join(fp, "user_id")
        .where(F.col("ts") < F.col("fp_ts"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    wu = W.partitionBy("user_id")
    ranked = touches.select(
        "user_id",
        "event_type",
        F.row_number().over(wu.orderBy("ts", "event_id")).alias("rn"),
        F.count("*").over(wu).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return (
        ranked.select("user_id", "event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("credit").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_credit"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").cast("bigint").alias("n_touches"),
        )
        .orderBy("event_type")
    )


@register(
    "events_daily_growth_accounting",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        FROM events WHERE user_id IS NOT NULL
    ), first_seen AS (
        SELECT user_id, MIN(day) AS first_day FROM act GROUP BY user_id
    )
    SELECT act.day,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(SUM(CASE WHEN act.day = first_seen.first_day
                         THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN act.day = first_seen.first_day
                         THEN 0 ELSE 1 END) AS BIGINT) AS returning_users,
           SUM(CASE WHEN act.day = first_seen.first_day
                    THEN 0 ELSE 1 END) * 1.0 / COUNT(*)
               AS returning_share
    FROM act JOIN first_seen USING (user_id)
    GROUP BY act.day ORDER BY act.day
    """,
    doc=(
        "Daily growth accounting: active users split into first-ever "
        "seen vs returning, with the returning share — the "
        "new/retained decomposition behind every DAU chart."
    ),
)
def events_daily_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A DAU count alone cannot distinguish growth from churn-masking
    acquisition; the decomposition can. Each user's first-ever active
    day comes from one (user) aggregation over the distinct
    (user, day) activity relation; joining it back on the user key
    tags every active day as new or returning — two key shuffles with
    map-side partials, both on user_id (the exchange is reused), then
    one bounded per-day aggregation. All integer counts and one share
    division; the O(calendar-days) result needs no window at all.
    The cohort_week query answers retention by cohort; this answers
    the day-grain composition question a growth team asks first."""
    act = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    first_seen = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    is_new = F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
    return (
        act.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum(is_new).cast("bigint").alias("new_users"),
            F.sum(1 - is_new).cast("bigint").alias("returning_users"),
            (F.sum(1 - is_new) * 1.0 / F.count("*")).alias(
                "returning_share"
            ),
        )
        .orderBy("day")
    )
