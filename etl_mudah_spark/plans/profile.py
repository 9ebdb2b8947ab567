"""Table profiling and reshape queries.

- ``lineitem_unpivot_metrics``: wide→long melt (the inverse of
  orders_pivot_status in plans/parity.py) via the native ``unpivot``
  operator, then a grouped summary. Unpivot is a zero-shuffle
  projection (each row expands to k rows in place); the only exchange
  is the final small agg.
- ``lineitem_profile``: per-column data-profiling summary (count,
  nulls, distinct, min/max/avg) of the kind every ingestion pipeline
  runs before accepting a batch. One pass over the table: all
  aggregates compute in a single partial-agg scan (no per-column
  jobs, unlike naive df.summary() usage patterns); distinct counts
  are exact here — at 100 TB swap in approx_count_distinct(rsd) and
  accept the documented error bound.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mudah_spark.functions.core import dsum, oracle_dsum
from etl_mudah_spark.operators import sketch as sk
from etl_mudah_spark.plans.registry import register
from etl_mudah_spark.session import scratch_dir
from etl_mudah_spark.tables import load


@register(
    "lineitem_unpivot_metrics",
    oracle=f"""
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS metric, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    SELECT l_returnflag, metric,
           COUNT(*) AS cnt,
           {oracle_dsum('value')} AS total
    FROM long
    GROUP BY l_returnflag, metric
    """,
    doc="Wide→long unpivot (melt) + grouped totals per metric.",
)
def lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    ).withColumn(
        # Column names → the oracle's metric labels.
        "metric",
        F.element_at(
            F.create_map(
                F.lit("l_quantity"), F.lit("quantity"),
                F.lit("l_extendedprice"), F.lit("extendedprice"),
                F.lit("l_discount"), F.lit("discount"),
            ),
            F.col("metric"),
        ),
    )
    return long.groupBy("l_returnflag", "metric").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "lineitem_profile",
    oracle="""
    SELECT 'l_quantity' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_quantity) AS n_nulls,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_val,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice),
           CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE),
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
           COUNT(DISTINCT l_discount),
           CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE),
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(l_tax),
           COUNT(DISTINCT l_tax),
           CAST(MIN(l_tax) AS DOUBLE), CAST(MAX(l_tax) AS DOUBLE),
           CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_tax)
    FROM lineitem
    """,
    doc="Per-column profile (count/nulls/distinct/min/max/avg) in one scan.",
)
def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__n_rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__n_nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            F.min(c).cast("double").alias(f"{c}__min_val"),
            F.max(c).cast("double").alias(f"{c}__max_val"),
            (F.sum(F.col(c).cast("decimal(18,6)")).cast("double") / F.count(c)).alias(
                f"{c}__avg_val"
            ),
        ]
    wide = li.agg(*aggs)
    # One wide row → k profile rows: stack the per-column structs.
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n_rows").alias("n_rows"),
                F.col(f"{c}__n_nulls").alias("n_nulls"),
                F.col(f"{c}__n_distinct").alias("n_distinct"),
                F.col(f"{c}__min_val").alias("min_val"),
                F.col(f"{c}__max_val").alias("max_val"),
                F.col(f"{c}__avg_val").alias("avg_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(entries).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# A11: kernel-density estimate of the price distribution — the
# reference's distplot curve (pages/price_analysis.py:244-249, plotly
# ff.create_distplot = gaussian KDE, Scott bandwidth).
#
# Spark-first shape: ONE stats pass (count/std/min/max as a 1-row
# broadcast), a generated 101-point grid, then a broadcast crossJoin of
# grid x data with a partial-aggregated SUM of gaussian kernels per
# grid point. No UDF, no driver loop; the only shuffle carries
# 101 x n_partitions partial rows. At 100 TB the kernel pass is a
# map-side aggregate over the corpus — same cost class as any global
# histogram; evaluate on a sample if the full pass is too hot.
#
# Density is emitted x1e6 and rounded so the value comparison is way
# above both engines' float-association noise.
# ---------------------------------------------------------------------------
@register(
    "price_kde",
    oracle="""
    WITH s AS (
        SELECT COUNT(*)::DOUBLE AS n, STDDEV(o_totalprice) AS sd,
               MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        FROM orders
    ), g AS (
        SELECT mn + i * (mx - mn) / 100 AS x, n, sd * pow(n, -0.2) AS h
        FROM s, UNNEST(range(101)) AS t(i)
    )
    SELECT ROUND(x, 4) AS x,
           ROUND(SUM(exp(-0.5 * ((x - o_totalprice) / h) * ((x - o_totalprice) / h)))
                 / (n * h * sqrt(2 * pi())) * 1e6, 4) AS density_1e6
    FROM orders, g
    GROUP BY x, n, h
    """,
    doc="Gaussian KDE curve of order value (Scott bandwidth, 101-point grid).",
)
def price_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_totalprice")
    stats = orders.agg(
        F.count("*").cast("double").alias("n"),
        F.stddev("o_totalprice").alias("sd"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    )
    grid = (
        stats.select(
            F.explode(F.sequence(F.lit(0), F.lit(100))).alias("i"), "n", "sd", "mn", "mx"
        )
        .select(
            (F.col("mn") + F.col("i") * (F.col("mx") - F.col("mn")) / 100).alias("x"),
            "n",
            (F.col("sd") * F.pow("n", F.lit(-0.2))).alias("h"),
        )
    )
    z = (F.col("x") - F.col("o_totalprice")) / F.col("h")
    return (
        orders.crossJoin(F.broadcast(grid))
        .groupBy("x", "n", "h")
        .agg(F.sum(F.exp(-0.5 * z * z)).alias("ksum"))
        .select(
            F.round("x", 4).alias("x"),
            F.round(
                F.col("ksum") / (F.col("n") * F.col("h") * math.sqrt(2 * math.pi)) * 1e6, 4
            ).alias("density_1e6"),
        )
    )


def _skew_leg_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS key_name,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           CAST(SUM(cnt) AS BIGINT) AS total_rows,
           ROUND(MAX(cnt) / (SUM(cnt) * 1.0 / COUNT(*)), 4) AS skew_ratio
    FROM (SELECT {col}, COUNT(*) AS cnt FROM {table} GROUP BY {col})
    """


@register(
    "join_key_skew_profile",
    oracle=" UNION ALL ".join(
        _skew_leg_sql(t, c)
        for t, c in [
            ("orders", "o_custkey"),
            ("lineitem", "l_orderkey"),
            ("lineitem", "l_partkey"),
            ("events", "user_id"),
        ]
    ),
    doc=(
        "Join-key skew diagnostic: cardinality, hottest-key count, and "
        "max/mean skew ratio for the fact-table join keys."
    ),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational question behind every salting/AQE-skew decision
    at 100 TB: how hot is the hottest key relative to the mean?
    skew_ratio ~ 1 means uniform hashing balances the shuffle;
    skew_ratio >> number-of-partitions means one task owns the hot key
    and the join needs salting (operators/skew.py) or AQE skew-split.
    One count-per-key agg and a 1-row re-aggregation per key column —
    the profile costs a fraction of any of the joins it derisks."""
    legs = []
    for table, col in [
        ("orders", "o_custkey"),
        ("lineitem", "l_orderkey"),
        ("lineitem", "l_partkey"),
        ("events", "user_id"),
    ]:
        per_key = (
            load(spark, sf_dir, table)
            .groupBy(col)
            .agg(F.count("*").alias("cnt"))
        )
        legs.append(
            per_key.agg(
                F.lit(f"{table}.{col}").alias("key_name"),
                F.count("*").alias("n_keys"),
                F.max("cnt").alias("max_cnt"),
                F.sum("cnt").cast("bigint").alias("total_rows"),
                F.round(
                    F.max("cnt") / (F.sum("cnt") / F.count("*")), 4
                ).alias("skew_ratio"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Declarative data-quality suite (operators/checks.py): five constraint
# classes over orders evaluated Deequ-style — every row-level check
# folds into ONE scan/one aggregate (adding a check adds a partial-agg
# column, not a pass), uniqueness costs its one unavoidable key
# shuffle. The report is constraint-sized; at 100 TB it gates a
# manifest publish (fail_on_violations) without ever collecting data
# rows. The thresholds are deliberately tight so every class reports a
# real nonzero violation count — the oracle reproduces each count
# exactly, so the cross-engine hash pins the evaluation semantics
# (NULL-tolerant range/set/regex, NULL-hostile not_null, excess-row
# uniqueness accounting), not just plumbing.
# ---------------------------------------------------------------------------
@register(
    "orders_quality_report",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS total,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
             CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                            AND (o_totalprice < 1000 OR o_totalprice > 200000)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
             CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O', 'F')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
             CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_re
      FROM orders
    ), uniq AS (
      SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS v_u
      FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey) g
      WHERE n > 1
    ), rep AS (
      SELECT 'not_null(o_custkey)' AS "check", 'o_custkey' AS "column",
             v_nn AS violations, total AS total_rows FROM base
      UNION ALL
      SELECT 'in_range(o_totalprice)', 'o_totalprice', v_range, total FROM base
      UNION ALL
      SELECT 'in_set(o_orderstatus)', 'o_orderstatus', v_set, total FROM base
      UNION ALL
      SELECT 'matches(o_orderpriority)', 'o_orderpriority', v_re, total FROM base
      UNION ALL
      SELECT 'unique(o_orderkey)', 'o_orderkey', v_u, total
      FROM uniq, base
    )
    SELECT "check", "column", violations, total_rows,
           violations = 0 AS passed
    FROM rep ORDER BY "check"
    """,
    doc=(
        "Data-quality constraint suite over orders: one-scan row checks "
        "(not-null, range, set, regex) + key-uniqueness, long-form report."
    ),
)
def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_mudah_spark.operators.checks import (
        UniqueCheck,
        check_table,
        in_range,
        in_set,
        matches,
        not_null,
    )

    orders = load(spark, sf_dir, "orders")
    return check_table(
        orders,
        row_checks=[
            not_null("o_custkey"),
            in_range("o_totalprice", 1000, 200000),
            in_set("o_orderstatus", ["O", "F"]),
            matches("o_orderpriority", "^[1-3]-"),
        ],
        unique_checks=[UniqueCheck(("o_orderkey",))],
    )


# ---------------------------------------------------------------------------
# Dead-letter profile: quarantined rows grouped by WHICH constraint
# combination they violated — the triage view over a reject table
# (operators/checks.py split_quarantine). The tag array is pure
# Column algebra inside the scan (no shuffle until the profile
# groupBy), and the oracle rebuilds the same ordered tag list with a
# list_filter lambda — cross-engine hash equality pins the per-row
# evaluation semantics AND the array ordering contract (declaration
# order, nulls filtered, never sorted).
# ---------------------------------------------------------------------------
@register(
    "orders_reject_profile",
    oracle="""
    SELECT profile, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (
      SELECT array_to_string(list_filter([
        CASE WHEN NOT (o_totalprice IS NULL
                       OR (o_totalprice >= 1000 AND o_totalprice <= 200000))
             THEN 'in_range(o_totalprice)' END,
        CASE WHEN NOT (o_orderstatus IS NULL OR o_orderstatus IN ('O', 'F'))
             THEN 'in_set(o_orderstatus)' END,
        CASE WHEN NOT (o_orderpriority IS NULL
                       OR regexp_matches(o_orderpriority, '^[1-3]-'))
             THEN 'matches(o_orderpriority)' END
      ], x -> x IS NOT NULL), ',') AS profile
      FROM orders
    ) WHERE profile <> ''
    GROUP BY profile ORDER BY profile
    """,
    doc=(
        "Quarantine triage: reject rows grouped by the violated-"
        "constraint combination (dead-letter split profile)."
    ),
)
def orders_reject_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_mudah_spark.operators.checks import (
        in_range,
        in_set,
        matches,
        split_quarantine,
    )

    orders = load(spark, sf_dir, "orders")
    _, rejects = split_quarantine(
        orders,
        [
            in_range("o_totalprice", 1000, 200000),
            in_set("o_orderstatus", ["O", "F"]),
            matches("o_orderpriority", "^[1-3]-"),
        ],
    )
    return (
        rejects.groupBy(
            F.concat_ws(",", F.col("violated")).alias("profile")
        )
        .agg(F.count("*").alias("n_rows"))
        .orderBy("profile")
    )


# ---------------------------------------------------------------------------
# Cross-table referential integrity: the third constraint class next
# to row checks and uniqueness — FK validation as ONE left_anti join
# (operators/checks.py fk_violations; parent broadcasts when it's a
# dim, shared bucketing co-locates fact-fact). The child is
# deterministically corrupted in-plan (every 211th custkey negated) so
# the report carries a REAL nonzero count both engines must reproduce;
# NULL FKs are legal per SQL semantics and the oracle mirrors that.
# ---------------------------------------------------------------------------
@register(
    "orders_customer_fk_audit",
    oracle="""
    WITH child AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 211 = 0 THEN -o_custkey
                  ELSE o_custkey END AS o_custkey
      FROM orders
    )
    SELECT 'fk(o_custkey)' AS "check", 'o_custkey' AS "column",
           CAST((SELECT COUNT(*) FROM child c
                 WHERE c.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer p
                                   WHERE p.c_custkey = c.o_custkey))
                AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           (SELECT COUNT(*) FROM child c
            WHERE c.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer p
                              WHERE p.c_custkey = c.o_custkey)) = 0 AS passed
    FROM child
    """,
    doc=(
        "Referential-integrity audit: orders→customer FK violations "
        "(left_anti join report) on a deterministically corrupted child."
    ),
)
def orders_customer_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_mudah_spark.operators.checks import fk_check_report

    orders = load(spark, sf_dir, "orders")
    child = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 211 == 0, -F.col("o_custkey")
        ).otherwise(F.col("o_custkey")).alias("o_custkey"),
    )
    customer = load(spark, sf_dir, "customer")
    return fk_check_report(child, ["o_custkey"], customer, ["c_custkey"])


@register(
    "customer_erasure_audit",
    oracle="""
    WITH erased AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ), eo AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM erased)
    )
    SELECT 'customer' AS table_name,
           (SELECT COUNT(*) FROM erased) AS n_purged,
           (SELECT COUNT(*) FROM customer)
               - (SELECT COUNT(*) FROM erased) AS n_retained
    UNION ALL
    SELECT 'orders',
           (SELECT COUNT(*) FROM eo),
           (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM eo)
    UNION ALL
    SELECT 'lineitem',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM eo)),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM eo))
    ORDER BY table_name
    """,
    doc=(
        "Right-to-erasure cascade audit: per-table purge/retain "
        "counts for a deterministic customer cohort, FK-transitively "
        "through orders into lineitem."
    ),
)
def customer_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GDPR/CCPA deletion dry-run every governed warehouse needs:
    given an erasure cohort (here the deterministic c_custkey % 97
    cohort standing in for a request list), report exactly how many
    rows each table would purge and retain, following the FK chain
    customer → orders → lineitem. The companion to
    orders_customer_fk_audit: that one proves referential integrity,
    this one sizes a cascade before anyone runs it.

    Plan shape at 100 TB: the cohort filter is map-only on customer;
    orders tags membership with ONE semi-join shuffle on custkey and
    feeds a conditional aggregate (purge and retain counted in the
    same pass — no second scan, no NOT-IN anti join: the erased-side
    count and its complement come from one boolean); lineitem does the
    same keyed by orderkey against the (erasure-proportional) purged
    order keys. Three tables, three keyed exchanges, zero driver-side
    state; output is 3 rows.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    erased = cust.where(F.col("c_custkey") % 97 == 0).select("c_custkey")
    c_row = cust.agg(
        F.lit("customer").alias("table_name"),
        F.sum((F.col("c_custkey") % 97 == 0).cast("bigint")).alias("n_purged"),
        F.sum((F.col("c_custkey") % 97 != 0).cast("bigint")).alias("n_retained"),
    )
    o_tag = orders.join(
        erased.withColumnRenamed("c_custkey", "o_custkey").withColumn(
            "_erase", F.lit(True)
        ),
        "o_custkey",
        "left",
    )
    o_row = o_tag.agg(
        F.lit("orders").alias("table_name"),
        F.sum(F.col("_erase").isNotNull().cast("bigint")).alias("n_purged"),
        F.sum(F.col("_erase").isNull().cast("bigint")).alias("n_retained"),
    )
    eo = o_tag.where(F.col("_erase")).select(
        F.col("o_orderkey").alias("l_orderkey"), F.lit(True).alias("_erase")
    )
    l_row = li.join(eo, "l_orderkey", "left").agg(
        F.lit("lineitem").alias("table_name"),
        F.sum(F.col("_erase").isNotNull().cast("bigint")).alias("n_purged"),
        F.sum(F.col("_erase").isNull().cast("bigint")).alias("n_retained"),
    )
    return c_row.unionByName(o_row).unionByName(l_row).orderBy("table_name")


@register(
    "lineitem_zone_pruned_revenue",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1994-03-31'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc=(
        "Quarterly revenue by return flag over a zone-map-pruned scan "
        "(range-clustered files, driver-side file skipping) — result "
        "identical to the plain filtered scan the oracle runs."
    ),
)
def lineitem_zone_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping above the file format (operators/layout.py
    write_range_clustered / build_zone_map / zone_pruned_read): stage
    lineitem range-clustered on l_shipdate, then answer a
    one-quarter revenue query reading ONLY the files whose zone-map
    envelope overlaps the quarter. Parquet footer min/max skips row
    groups but still schedules a task per file; the zone map prunes
    the FILE LIST on the driver — the Delta/Iceberg manifest-stats
    pattern, which is what keeps planning cost proportional to the
    matching fraction at 100 TB (tests/test_layout.py pins that the
    pruned plan reads a strict subset of files and returns the exact
    filtered result; here the oracle pins exactness against the
    unstaged table).

    The stage write is the one-off layout build (like the ANN index
    queries' scratch builds); production would stage once and serve
    many range queries off the sidecar.
    """
    li = load(spark, sf_dir, "lineitem")
    scratch = scratch_dir("lineitem_zone_pruned_revenue", sf_dir) + "/lineitem"
    from etl_mudah_spark.operators import layout as ly

    ly.write_range_clustered(li, scratch, "l_shipdate", n_files=16)
    pruned = ly.zone_pruned_read(
        spark,
        scratch,
        "l_shipdate",
        F.lit("1994-01-01").cast("timestamp"),
        F.lit("1994-03-31").cast("timestamp"),
    )
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Mergeable distinct sketch: HLL distinct customers per order priority,
# side-by-side with the exact count so the documented ~1.04/sqrt(256)
# = 6.5% error envelope is VISIBLE in the result. The sketch shuffles
# at most 256 registers per group (map-side max partials) where exact
# COUNT(DISTINCT) ships every distinct (group, custkey) pair — the
# 100 TB contrast this query exists to demonstrate. The whole sketch
# (xorshift-multiply hash, bin()-length rho, power-of-two harmonic sum) is
# reproduced verbatim by the DuckDB oracle — see operators/sketch.py
# for why every step is exact cross-engine.
# ---------------------------------------------------------------------------
@register(
    "orders_hll_distinct",
    oracle=f"""
    WITH x0 AS (
        SELECT o_orderpriority AS pri,
               o_custkey % {sk.HLL_M} AS x
        FROM orders
    ), m1 AS (
        SELECT pri, (xor(x >> 16, x) * {sk.HLL_MULT}) % {sk.HLL_M} AS x
        FROM x0
    ), m2 AS (
        SELECT pri, (xor(x >> 16, x) * {sk.HLL_MULT}) % {sk.HLL_M} AS x
        FROM m1
    ), h AS (
        SELECT pri, xor(x >> 16, x) AS hv FROM m2
    ), reg AS (
        SELECT pri, hv % 256 AS bucket,
               MAX(CASE WHEN hv // 256 = 0 THEN 24
                        ELSE 23 - length(bin(hv // 256)) + 1 END) AS rho
        FROM h GROUP BY pri, bucket
    ), est AS (
        SELECT pri,
               ROUND({sk._alpha(256) * 65536!r}
                     / (SUM(2.0 ^ (-rho)) + (256 - COUNT(*))), 4)
                   AS hll_distinct,
               CAST(COUNT(*) AS INT) AS buckets_hit
        FROM reg GROUP BY pri
    ), ex AS (
        SELECT o_orderpriority AS pri,
               COUNT(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY pri
    )
    SELECT est.pri AS o_orderpriority, hll_distinct, buckets_hit,
           exact_distinct,
           ROUND(ABS(hll_distinct - exact_distinct) / exact_distinct, 4)
               AS rel_err
    FROM est JOIN ex ON est.pri = ex.pri
    ORDER BY o_orderpriority
    """,
    doc=(
        "HyperLogLog distinct o_custkey per priority (256 registers, "
        "pure Column algebra, oracle reproduces the sketch exactly) "
        "vs the exact distinct, with relative error."
    ),
)
def orders_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_mudah_spark.operators.sketch import hll_distinct

    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    est = hll_distinct(o, ["o_orderpriority"], "o_custkey")
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    return (
        est.join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            "hll_distinct",
            "buckets_hit",
            "exact_distinct",
            F.round(
                F.abs(F.col("hll_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("o_orderpriority")
    )


_CMS_W = 2048
_CMS_SEED_VALUES = ", ".join(
    f"({i}, {s})" for i, s in enumerate(sk.CMS_SEEDS[:4])
)


@register(
    "orders_cms_heavy_customers",
    oracle=f"""
    WITH seeds(rw, sd) AS (VALUES {_CMS_SEED_VALUES}),
    base AS (
        SELECT o_orderpriority AS pri, o_custkey AS key FROM orders
    ), x0 AS (
        SELECT pri, key, rw, xor(key, sd) % {sk.HLL_M} AS x
        FROM base CROSS JOIN seeds
    ), m1 AS (
        SELECT pri, key, rw, (xor(x >> 16, x) * {sk.HLL_MULT}) % {sk.HLL_M} AS x
        FROM x0
    ), m2 AS (
        SELECT pri, key, rw, (xor(x >> 16, x) * {sk.HLL_MULT}) % {sk.HLL_M} AS x
        FROM m1
    ), h AS (
        SELECT pri, key, rw, xor(x >> 16, x) % {_CMS_W} AS col FROM m2
    ), cnt AS (
        SELECT pri, rw, col, COUNT(*) AS c FROM h GROUP BY 1, 2, 3
    ), kcell AS (
        SELECT DISTINCT pri, key, rw, col FROM h
    ), est AS (
        SELECT k.pri, k.key, MIN(c.c) AS cms_count
        FROM kcell k JOIN cnt c ON c.pri = k.pri AND c.rw = k.rw AND c.col = k.col
        GROUP BY 1, 2
    ), exact AS (
        SELECT pri, key, COUNT(*) AS exact_cnt FROM base GROUP BY 1, 2
    ), top AS (
        SELECT pri, key, exact_cnt,
               ROW_NUMBER() OVER (PARTITION BY pri ORDER BY exact_cnt DESC, key)
                   AS rn
        FROM exact
    )
    SELECT t.pri AS o_orderpriority, t.key AS o_custkey,
           CAST(t.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_count AS BIGINT) AS cms_count,
           CAST(e.cms_count - t.exact_cnt AS BIGINT) AS overcount
    FROM top t JOIN est e ON e.pri = t.pri AND e.key = t.key
    WHERE t.rn <= 5
    ORDER BY o_orderpriority, exact_cnt DESC, o_custkey
    """,
    doc=(
        "Count-Min heavy hitters: top-5 customers per priority with "
        "the CMS frequency estimate next to the exact count — the "
        "sketch is pure integer arithmetic (xor-avalanche rows, sum "
        "counters, MIN estimate), so the oracle reproduces it exactly."
    ),
)
def orders_cms_heavy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency estimation with bounded state
    (operators/sketch.py cms_counters/cms_estimate): the counter table
    is depth×width cells per group REGARDLESS of key cardinality —
    the open-key-space substitute for a full per-key count, and like
    the HLL registers a persistable, union-SUM-mergeable artifact
    (daily sketches roll up linearly). The registered query probes the
    exact top-5 customers per priority and shows estimate vs truth:
    CMS never undercounts (overcount >= 0, typically 0 here since
    2048 cells x 4 rows dwarf the sf0.01 key space). Everything —
    mixer, counters, MIN — is exact integer arithmetic, so unlike
    classic float sketches the estimate itself is oracle-hash-green."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    counters = sk.cms_counters(
        o, ["o_orderpriority"], "o_custkey", width=_CMS_W, depth=4
    )
    exact = o.groupBy("o_orderpriority", "o_custkey").agg(
        F.count("*").alias("exact_cnt")
    )
    top = (
        exact.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("o_orderpriority").orderBy(
                    F.desc("exact_cnt"), F.asc("o_custkey")
                )
            ),
        )
        .where(F.col("_rn") <= 5)
        .drop("_rn")
    )
    est = sk.cms_estimate(
        counters,
        top.select("o_orderpriority", "o_custkey"),
        ["o_orderpriority"],
        "o_custkey",
        width=_CMS_W,
        depth=4,
    )
    return (
        top.join(est, ["o_orderpriority", "o_custkey"])
        .select(
            "o_orderpriority",
            "o_custkey",
            "exact_cnt",
            F.col("cms_count").cast("bigint").alias("cms_count"),
            (F.col("cms_count") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy("o_orderpriority", F.desc("exact_cnt"), "o_custkey")
    )


@register(
    "priority_customer_overlap",
    oracle=f"""
    WITH x0 AS (
        SELECT o_orderpriority AS pri, o_custkey % {sk.HLL_M} AS x
        FROM orders
    ), m1 AS (
        SELECT pri, (xor(x >> 16, x) * {sk.HLL_MULT}) % {sk.HLL_M} AS x FROM x0
    ), m2 AS (
        SELECT pri, (xor(x >> 16, x) * {sk.HLL_MULT}) % {sk.HLL_M} AS x FROM m1
    ), reg AS (
        SELECT pri, xor(x >> 16, x) % 256 AS bucket,
               MAX(CASE WHEN xor(x >> 16, x) // 256 = 0 THEN 24
                        ELSE 23 - length(bin(xor(x >> 16, x) // 256)) + 1 END)
                   AS rho
        FROM m2 GROUP BY pri, bucket
    ), pairs AS (
        SELECT a.pri AS pri_a, b.pri AS pri_b
        FROM (SELECT DISTINCT pri FROM reg) a
        JOIN (SELECT DISTINCT pri FROM reg) b ON a.pri < b.pri
    ), merged AS (
        SELECT p.pri_a, p.pri_b, r.bucket, MAX(r.rho) AS rho
        FROM pairs p JOIN reg r ON r.pri IN (p.pri_a, p.pri_b)
        GROUP BY 1, 2, 3
    ), est AS (
        SELECT pri, ROUND({sk._alpha(256) * 65536!r}
                   / (SUM(2.0 ^ (-rho)) + (256 - COUNT(*))), 4) AS hll
        FROM reg GROUP BY pri
    ), est_u AS (
        SELECT pri_a, pri_b,
               ROUND({sk._alpha(256) * 65536!r}
                   / (SUM(2.0 ^ (-rho)) + (256 - COUNT(*))), 4) AS hll_union
        FROM merged GROUP BY pri_a, pri_b
    ), ex AS (
        SELECT a.pri_a, b.pri_b, COUNT(*) AS exact_intersect
        FROM (SELECT DISTINCT o_orderpriority AS pri_a, o_custkey AS c
              FROM orders) a
        JOIN (SELECT DISTINCT o_orderpriority AS pri_b, o_custkey AS c
              FROM orders) b
          ON a.c = b.c AND a.pri_a < b.pri_b
        GROUP BY 1, 2
    )
    SELECT u.pri_a, u.pri_b,
           ea.hll AS hll_a, eb.hll AS hll_b, u.hll_union,
           ROUND(ea.hll + eb.hll - u.hll_union, 4) AS hll_intersect,
           ex.exact_intersect
    FROM est_u u
    JOIN est ea ON ea.pri = u.pri_a
    JOIN est eb ON eb.pri = u.pri_b
    JOIN ex ON ex.pri_a = u.pri_a AND ex.pri_b = u.pri_b
    ORDER BY u.pri_a, u.pri_b
    """,
    doc=(
        "HLL set algebra: per-priority customer sketches merged "
        "pairwise (union = register max) give inclusion-exclusion "
        "intersection estimates next to the exact overlap — the "
        "oracle reproduces every register and estimate bit-for-bit."
    ),
)
def priority_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the mergeable-sketch design buys beyond single-set counts:
    the 10 pairwise customer overlaps between order priorities computed
    from FIVE persisted 256-register sketches (union by register max,
    |A∩B| ≈ |A|+|B|−|A∪B|), never re-scanning orders per pair. At
    100 TB this is the segment-overlap matrix from kilobytes of state;
    the exact-intersect column (one distinct + self-join at testdata
    scale) rides along as ground truth, and everything — registers,
    merges, estimates — is the same power-of-two arithmetic both
    engines reproduce exactly (operators/sketch.py)."""
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    regs = sk.hll_registers(o, ["o_orderpriority"], "o_custkey")
    pris = regs.select("o_orderpriority").distinct()
    pairs = (
        pris.select(F.col("o_orderpriority").alias("pri_a"))
        .join(
            pris.select(F.col("o_orderpriority").alias("pri_b")),
            F.col("pri_a") < F.col("pri_b"),
        )
    )
    ra = regs.select(
        F.col("o_orderpriority").alias("pri_a"), "bucket", "rho"
    ).join(F.broadcast(pairs), "pri_a")
    rb = regs.select(
        F.col("o_orderpriority").alias("pri_b"), "bucket", "rho"
    ).join(F.broadcast(pairs), "pri_b")
    merged = sk.hll_merge_registers(
        ra.select("pri_a", "pri_b", "bucket", "rho"),
        rb.select("pri_a", "pri_b", "bucket", "rho"),
        ["pri_a", "pri_b"],
    )
    est_u = sk.hll_estimate_from_registers(
        merged, ["pri_a", "pri_b"], out_col="hll_union"
    ).drop("buckets_hit")
    est = sk.hll_estimate_from_registers(
        regs, ["o_orderpriority"], out_col="hll"
    ).drop("buckets_hit")
    ea = est.select(F.col("o_orderpriority").alias("pri_a"), F.col("hll").alias("hll_a"))
    eb = est.select(F.col("o_orderpriority").alias("pri_b"), F.col("hll").alias("hll_b"))
    dist = o.distinct()
    ex = (
        dist.select(F.col("o_orderpriority").alias("pri_a"), F.col("o_custkey").alias("_c"))
        .join(
            dist.select(F.col("o_orderpriority").alias("pri_b"), F.col("o_custkey").alias("_c")),
            "_c",
        )
        .where(F.col("pri_a") < F.col("pri_b"))
        .groupBy("pri_a", "pri_b")
        .agg(F.count("*").alias("exact_intersect"))
    )
    return (
        est_u.join(F.broadcast(ea), "pri_a")
        .join(F.broadcast(eb), "pri_b")
        .join(ex, ["pri_a", "pri_b"])
        .select(
            "pri_a", "pri_b", "hll_a", "hll_b", "hll_union",
            F.round(F.col("hll_a") + F.col("hll_b") - F.col("hll_union"), 4)
            .alias("hll_intersect"),
            "exact_intersect",
        )
        .orderBy("pri_a", "pri_b")
    )


def _sig_chain_sql(src: str, first: str, rest: list[str], out: str) -> str:
    """CTE chain computing operators/reconcile.py row_signature over
    ``first`` + ``rest`` column exprs of CTE ``src``, ending in CTE
    ``out`` = src's columns + ``sig``. Mirrors hll_hash exactly: seed
    % M, two xorshift-multiply rounds, final fold — per chained
    column."""
    stages = []
    prev = src
    for i, col in enumerate([first, *rest]):
        seed = col if i == 0 else f"xor(sig, {col})"
        a, b, c, d = (f"{out}_{i}{t}" for t in "abcd")
        if i == 0:
            stages.append(
                f"{a} AS (SELECT *, ({seed}) % {sk.HLL_M} AS mx FROM {prev})"
            )
        else:
            stages.append(
                f"{a} AS (SELECT * REPLACE (({seed}) % {sk.HLL_M} AS mx) FROM {prev})"
            )
        for step, src_cte in ((b, a), (c, b)):
            stages.append(
                f"{step} AS (SELECT * REPLACE ((xor(mx >> 16, mx) * {sk.HLL_MULT})"
                f" % {sk.HLL_M} AS mx) FROM {src_cte})"
            )
        if i == 0:
            stages.append(f"{d} AS (SELECT *, xor(mx >> 16, mx) AS sig FROM {c})")
        else:
            stages.append(
                f"{d} AS (SELECT * REPLACE (xor(mx >> 16, mx) AS sig) FROM {c})"
            )
        prev = d
    stages.append(f"{out} AS (SELECT * EXCLUDE (mx) FROM {prev})")
    return ",\n    ".join(stages)


_RECON_PERTURB = (
    "CAST(FLOOR((o_totalprice"
    " + CASE WHEN o_orderkey = 42 THEN 1000.0 ELSE 0.0 END) * 100) AS BIGINT)"
)


@register(
    "orders_replica_diff",
    oracle=f"""
    WITH base0 AS (
        SELECT o_orderkey AS k,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS p
        FROM orders
    ), rep0 AS (
        SELECT o_orderkey AS k, {_RECON_PERTURB} AS p
        FROM orders
    ),
    {_sig_chain_sql("base0", "k", ["p"], "basesig")},
    {_sig_chain_sql("rep0", "k", ["p"], "repsig")},
    fpa AS (
        SELECT sig % 64 AS bucket, COUNT(*) AS n, SUM(sig) AS s,
               BIT_XOR(sig) AS x
        FROM basesig GROUP BY 1
    ), fpb AS (
        SELECT sig % 64 AS bucket, COUNT(*) AS n, SUM(sig) AS s,
               BIT_XOR(sig) AS x
        FROM repsig GROUP BY 1
    ), diffb AS (
        SELECT COALESCE(fpa.bucket, fpb.bucket) AS bucket
        FROM fpa FULL OUTER JOIN fpb ON fpa.bucket = fpb.bucket
        WHERE fpa.n IS DISTINCT FROM fpb.n
           OR fpa.s IS DISTINCT FROM fpb.s
           OR fpa.x IS DISTINCT FROM fpb.x
    ), ca AS (
        SELECT sig % 64 AS bucket, sig, COUNT(*) AS na
        FROM basesig WHERE sig % 64 IN (SELECT bucket FROM diffb)
        GROUP BY 1, 2
    ), cb AS (
        SELECT sig % 64 AS bucket, sig, COUNT(*) AS nb
        FROM repsig WHERE sig % 64 IN (SELECT bucket FROM diffb)
        GROUP BY 1, 2
    ), j AS (
        SELECT COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
        FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket AND ca.sig = cb.sig
    )
    SELECT (SELECT COUNT(*) FROM diffb) AS n_buckets_diff,
           CAST(COALESCE((SELECT SUM(na) FROM j), 0) AS BIGINT)
               AS n_rows_scanned,
           CAST(COALESCE((SELECT SUM(GREATEST(na - nb, 0)) FROM j), 0)
               AS BIGINT) AS only_in_a,
           CAST(COALESCE((SELECT SUM(GREATEST(nb - na, 0)) FROM j), 0)
               AS BIGINT) AS only_in_b
    """,
    doc=(
        "Merkle-style replica reconciliation: bucketed signature "
        "fingerprints find the disagreeing buckets, the drill-down "
        "diffs only those buckets' signature multisets — against a "
        "replica with one perturbed row."
    ),
)
def orders_replica_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy between a table and its (deliberately one-row-
    perturbed) replica via operators/reconcile.py: phase 1 exchanges
    64 fingerprint rows per side (count + exact signature sum + XOR
    per bucket — a single changed row flips its bucket on both
    sides), phase 2 re-reads ONLY the disagreeing buckets and diffs
    (signature, multiplicity) groups. At 100 TB agreement costs zero
    row movement and a one-row divergence shuffles ~2·|bucket| rows —
    the Cassandra-repair shape in five DataFrame operators, every
    fingerprint reproduced bit-for-bit by the oracle."""
    from etl_mudah_spark.operators.reconcile import (
        reconcile_tables,
        row_signature,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("p"),
    )
    replica = o.select(
        F.col("o_orderkey").alias("k"),
        F.floor(
            (
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") == 42, F.lit(1000.0)).otherwise(0.0)
            )
            * 100
        )
        .cast("bigint")
        .alias("p"),
    )
    sig = row_signature(F.col("k"), F.col("p"))
    return reconcile_tables(base, replica, sig, n_buckets=64)


@register(
    "orders_benford_audit",
    oracle="""
    WITH ip AS (
        SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders
        WHERE o_totalprice >= 1
    ), d AS (
        SELECT CASE
                 WHEN v >= 1000000000000000000 THEN v // 1000000000000000000
                 WHEN v >= 100000000000000000 THEN v // 100000000000000000
                 WHEN v >= 10000000000000000 THEN v // 10000000000000000
                 WHEN v >= 1000000000000000 THEN v // 1000000000000000
                 WHEN v >= 100000000000000 THEN v // 100000000000000
                 WHEN v >= 10000000000000 THEN v // 10000000000000
                 WHEN v >= 1000000000000 THEN v // 1000000000000
                 WHEN v >= 100000000000 THEN v // 100000000000
                 WHEN v >= 10000000000 THEN v // 10000000000
                 WHEN v >= 1000000000 THEN v // 1000000000
                 WHEN v >= 100000000 THEN v // 100000000
                 WHEN v >= 10000000 THEN v // 10000000
                 WHEN v >= 1000000 THEN v // 1000000
                 WHEN v >= 100000 THEN v // 100000
                 WHEN v >= 10000  THEN v // 10000
                 WHEN v >= 1000   THEN v // 1000
                 WHEN v >= 100    THEN v // 100
                 WHEN v >= 10     THEN v // 10
                 ELSE v
               END AS digit
        FROM ip
    ), g AS (
        SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), tot AS (
        SELECT SUM(n) AS total FROM g
    )
    SELECT CAST(digit AS INT) AS digit,
           CAST(n AS BIGINT) AS n,
           n * 1.0 / total AS share,
           ln(1.0 + 1.0 / digit) / ln(10.0) AS benford_p,
           (n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))
             * (n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))
             / (total * (ln(1.0 + 1.0 / digit) / ln(10.0))) AS chi2_term
    FROM g CROSS JOIN tot
    ORDER BY digit
    """,
    doc=(
        "Benford first-digit audit of order totals: observed share vs "
        "log10(1+1/d) expectation with per-digit chi-square "
        "contributions — the classic fabricated-amounts screen."
    ),
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs
    Benford's law. Digit extraction is EXACT integer arithmetic on the
    floored amount (bounded magnitude ladder, no log10-of-double
    boundary races — log10(1000) is not reliably 3.0 across libms);
    the only doubles are the smooth ln expectation terms, identical in
    both engines. Plan: one map-side-combined digit count (≤9 groups),
    a 1-row total broadcast (A13), ordered 9-row output. Scale-proof
    by construction — the aggregate domain is the digit set."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    v = F.floor("o_totalprice").cast("bigint")
    # The ladder spans the FULL bigint range (10^18 ≤ max bigint
    # ~9.2e18), so the screen is a general Benford audit, not a
    # ≤1e6-magnitude special case.
    digit = v
    for p in range(1, 19):
        pw = 10**p
        digit = F.when(
            v >= pw, F.expr(f"CAST(floor(o_totalprice) AS BIGINT) DIV {pw}")
        ).otherwise(digit)
    g = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    tot = g.agg(F.sum("n").alias("total"))
    p = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    exp_n = F.col("total") * p
    return (
        g.join(F.broadcast(tot))
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.col("n").cast("bigint").alias("n"),
            (F.col("n") * 1.0 / F.col("total")).alias("share"),
            p.alias("benford_p"),
            ((F.col("n") - exp_n) * (F.col("n") - exp_n) / exp_n).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


@register(
    "flag_weighted_price_quartiles",
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS f, l_extendedprice AS v,
               SUM(CAST(l_quantity AS BIGINT)) AS w,
               COUNT(*) AS cnt
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        GROUP BY 1, 2
    ), c AS (
        SELECT f, v, w,
               SUM(w) OVER (PARTITION BY f ORDER BY v) AS cum
        FROM g
    ), t AS (
        SELECT f, SUM(w) AS tw, SUM(cnt) AS n FROM g GROUP BY f
    )
    SELECT t.f AS l_returnflag,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.tw AS BIGINT) AS total_weight,
           MIN(v) FILTER (WHERE 4 * cum >= 1 * t.tw) AS q_1_4,
           MIN(v) FILTER (WHERE 2 * cum >= 1 * t.tw) AS q_1_2,
           MIN(v) FILTER (WHERE 4 * cum >= 3 * t.tw) AS q_3_4
    FROM c JOIN t USING (f)
    GROUP BY t.f, t.n, t.tw
    ORDER BY l_returnflag
    """,
    doc=(
        "Quantity-weighted price quartiles per return flag: the exact "
        "lower weighted quantile (smallest price whose cumulative "
        "quantity reaches the target share of total quantity)."
    ),
)
def flag_weighted_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted distribution profiling (operators/quantiles.py):
    'median price' weighted by units moved, not by line count — the
    difference between what a row says and what the business shipped.
    Exactness: weights are bigint quantities, the threshold test
    den·cum ≥ num·W is integer arithmetic (no float rank), so the
    selected prices are deterministic. Scale: the grouped two-phase
    prefix sum — (flag, price) hash aggregation collapses the corpus,
    per-(flag, bucket) offsets ride a window over the bounded
    bucket-count relation, selection is a conditional MIN — so no
    task ever sorts a whole flag's rows (a 3-group corpus would
    otherwise funnel a third of the data through one task; TPC-H
    l_quantity is integer-valued 1..50, so the bigint cast is exact:
    reference analog none, the pandas median at
    streamlit/pages/price_analysis.py:43-47 is unweighted)."""
    from etl_mudah_spark.operators.quantiles import weighted_quantiles_exact

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    wq = weighted_quantiles_exact(
        li,
        ["l_returnflag"],
        value_col="l_extendedprice",
        weight_col="l_quantity",
        quantiles=((1, 4), (1, 2), (3, 4)),
        bucket=F.floor(F.col("_v") / 1000).cast("bigint"),
    )
    return wq.orderBy("l_returnflag")


@register(
    "part_fd_audit",
    oracle="""
    WITH g1 AS (
        SELECT p_partkey AS l, p_brand AS r, COUNT(*) AS c
        FROM part GROUP BY 1, 2
    ), s1 AS (
        SELECT l, COUNT(*) AS nd, SUM(c) AS n, MAX(c) AS mx FROM g1 GROUP BY l
    ), g2 AS (
        SELECT p_brand AS l, p_type AS r, COUNT(*) AS c
        FROM part GROUP BY 1, 2
    ), s2 AS (
        SELECT l, COUNT(*) AS nd, SUM(c) AS n, MAX(c) AS mx FROM g2 GROUP BY l
    ), g3 AS (
        SELECT p_type AS l, p_size AS r, COUNT(*) AS c
        FROM part GROUP BY 1, 2
    ), s3 AS (
        SELECT l, COUNT(*) AS nd, SUM(c) AS n, MAX(c) AS mx FROM g3 GROUP BY l
    )
    SELECT 'p_partkey->p_brand' AS fd,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
           CAST(MAX(nd) AS BIGINT) AS max_distinct_rhs,
           CAST(SUM(n - mx) AS BIGINT) AS repair_rows,
           SUM(n - mx) * 1.0 / SUM(n) AS g3_error
    FROM s1
    UNION ALL
    SELECT 'p_brand->p_type',
           CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nd) AS BIGINT), CAST(SUM(n - mx) AS BIGINT),
           SUM(n - mx) * 1.0 / SUM(n)
    FROM s2
    UNION ALL
    SELECT 'p_type->p_size',
           CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nd) AS BIGINT), CAST(SUM(n - mx) AS BIGINT),
           SUM(n - mx) * 1.0 / SUM(n)
    FROM s3
    ORDER BY fd
    """,
    doc=(
        "Functional-dependency audit over part: key FD (holds), "
        "brand->type and type->size (violated) — per-FD violating "
        "groups and the exact g3 repair cost."
    ),
)
def part_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery as a query (operators/checks.fd_audit): does
    column A determine column B, and if not, how many rows would have
    to go for it to? g3_error = (rows outside each lhs group's
    largest rhs class) / n — 0 for the key FD sanity row, large for
    the genuinely independent pairs. All integer count arithmetic
    with one final division per FD; two map-side-combined
    aggregations per FD and a union of 1-row frames — no join, no
    window, skew-irrelevant."""
    from etl_mudah_spark.operators.checks import fd_audit

    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return fd_audit(
        part,
        [
            ("p_partkey", "p_brand"),
            ("p_brand", "p_type"),
            ("p_type", "p_size"),
        ],
    ).orderBy("fd")
