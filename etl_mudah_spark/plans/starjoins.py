"""Join-heavy analytical queries (TPC-H Q2/3/4/8/11/14/15/16/17/18/19
shapes) plus set-operation and skew-salted variants.

The reference app is single-table (SURVEY.md §2.5: "no SQL joins"), so
these queries are the engine's join surface beyond reference parity:
semi-joins with non-equi conditions, window-based correlated
subqueries, scalar-subquery HAVING, conditional-aggregate shares,
distinct-count aggs, INTERSECT/EXCEPT, and a salted two-phase
aggregation for hot-key skew.

Scale notes inline per query. Join-strategy policy: region/nation/
supplier broadcast at any sf (tables.BROADCAST_DIMS); part/orders/
customer grow with sf, so their joins stay shuffle joins and AQE picks
broadcast at small sf on its own.

Float discipline (functions/core.py): exact decimal sums cast to
double; divisions of two such sums are IEEE-deterministic — no
round() anywhere it isn't semantically required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_mudah_spark.functions.core import _DEC, davg, dsum, oracle_davg, oracle_dsum
from etl_mudah_spark.operators.skew import salted_sum_count
from etl_mudah_spark.plans.registry import register
from etl_mudah_spark.session import scratch_dir
from etl_mudah_spark.tables import load, read_parquet

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"


def _disc_price() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: 3-way star join + grouped revenue + top-k.
# Scale: lineitem⨝orders shuffles on orderkey; customer pre-filtered on
# segment before its join (predicate below the join, 1/5 of customers
# shuffled); TakeOrdered(10) — no global sort materialization.
# ---------------------------------------------------------------------------
@register(
    "shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {oracle_dsum(_DISC_PRICE)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3: unshipped-order revenue top-10 (3-way join).",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_disc_price()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS → left-semi join with an extra NON-EQUI
# condition (shipped >90 days after order date).
# Scale: semi-join shuffles both sides on orderkey but ships no
# lineitem payload columns past the join; output is 5 rows.
# ---------------------------------------------------------------------------
@register(
    "late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
          )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4: orders with a >90-day-late shipment, by priority (semi-join).",
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: conditional-aggregate share over a fact⨝dim join.
# Scale: part scales with sf (NOT broadcast-pinned); AQE broadcasts it
# at small sf, shuffle-joins at large. Share of two decimal sums →
# deterministic double.
# ---------------------------------------------------------------------------
@register(
    "promo_revenue_by_month",
    oracle=f"""
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           100.0 * {oracle_dsum(f"CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE} ELSE 0 END")}
                 / {oracle_dsum(_DISC_PRICE)} AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q14: monthly promo-revenue share (conditional agg over join).",
)
def promo_revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg((100.0 * dsum(promo) / dsum(_disc_price())).alias("promo_pct"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: correlated "min over group" subquery → window
# row_number. The reference has no partsupp, so unit price is derived
# from lineitem history as sum(price)/sum(qty) — a ratio of two EXACT
# decimal sums (per-row price/qty division would pass through a
# double→decimal cast whose rounding mode differs between engines:
# Spark HALF_UP vs DuckDB HALF_EVEN).
# Scale: one shuffle on (partkey, suppkey) for the price agg, one on
# partkey for the window; supplier broadcast for the name lookup.
# ---------------------------------------------------------------------------
UNIT_PRICE_ORACLE = (
    f"{oracle_dsum('l_extendedprice')} / {oracle_dsum('l_quantity')}"
)


@register(
    "cheapest_supplier_per_part",
    oracle=f"""
    WITH unit AS (
        SELECT l_partkey, l_suppkey,
               {UNIT_PRICE_ORACLE} AS avg_unit_price
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ), ranked AS (
        SELECT l_partkey, l_suppkey, avg_unit_price,
               row_number() OVER (
                 PARTITION BY l_partkey
                 ORDER BY avg_unit_price ASC, l_suppkey ASC
               ) AS rn
        FROM unit
    )
    SELECT l_partkey, l_suppkey, avg_unit_price, s_name
    FROM ranked JOIN supplier ON l_suppkey = s_suppkey
    WHERE rn = 1
    """,
    doc="TPC-H Q2 shape: min-cost supplier per part via window row_number.",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        (dsum("l_extendedprice") / dsum("l_quantity")).alias("avg_unit_price")
    )
    # min(struct) replaces the row_number window (round 9, the
    # exact_dedup "agg" rationale): the re-aggregation rides map-side
    # partials on the partkey shuffle instead of sorting every unit
    # row; (avg_unit_price, l_suppkey) is the same total order the
    # window used, so the survivor is identical.
    best = unit.groupBy("l_partkey").agg(
        F.min(F.struct("avg_unit_price", "l_suppkey")).alias("_m")
    )
    return (
        best.select(
            "l_partkey",
            F.col("_m.l_suppkey").alias("l_suppkey"),
            F.col("_m.avg_unit_price").alias("avg_unit_price"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "l_suppkey", "avg_unit_price", "s_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: correlated AVG subquery → window avg per part.
# Scale: window shuffles lineitem on partkey ONCE and reuses it for
# both the avg and the filter (vs the self-join-on-agg form, which
# scans+shuffles twice).
# ---------------------------------------------------------------------------
@register(
    "small_qty_part_revenue",
    oracle=f"""
    WITH wa AS (
        SELECT l_partkey, l_quantity, l_extendedprice,
               AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        FROM lineitem
    )
    SELECT {oracle_dsum('l_extendedprice')} / 7.0 AS avg_yearly
    FROM wa JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.5 * avg_qty
    """,
    doc="TPC-H Q17: revenue of below-half-average-quantity lineitems.",
)
def small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    part = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select("p_partkey")
    wa = li.withColumn("avg_qty", F.avg("l_quantity").over(W.partitionBy("l_partkey")))
    return (
        wa.join(part, wa.l_partkey == part.p_partkey)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING on a grouped sum, then join back to
# orders/customer for the payload.
# Scale: the group-by on orderkey is the big shuffle; the surviving
# keys (~1%) then join — AQE turns that side into a broadcast at any
# realistic selectivity.
# ---------------------------------------------------------------------------
@register(
    "big_orders",
    oracle="""
    WITH q AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS qty_sum
        FROM lineitem
        GROUP BY l_orderkey
        HAVING qty_sum > 250
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty_sum
    FROM q
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q18: large-quantity orders with customer payload.",
)
def big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    # dsum2 compact lattice (functions/core.py): l_quantity is a 2-dp
    # column <= 50, and this aggregate has ONE GROUP PER ORDER — the
    # non-compact decimal(28,6) buffer paid a per-row BigDecimal add
    # across millions of groups (round-10 x100 decomposition).
    from etl_mudah_spark.functions.core import dsum2

    q = (
        li.groupBy("l_orderkey")
        .agg(dsum2("l_quantity").alias("qty_sum"))
        .where(F.col("qty_sum") > 250)
    )
    return (
        q.join(orders, q.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "qty_sum")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# One rollup per source dir, stamped (Spark application, source
# fingerprint): the rollup stands in for a write-time-maintained table,
# so rebuilding it per invocation is wrong in a long-lived session
# (VERDICT r12 item 7). A restarted session (new JVM temp state) or a
# RESTAGED sf_dir — ingest rewriting the same path within one
# application, caught by a cheap lineitem file-metadata fingerprint
# (ADVICE r13) — rebuilds into a new scratch_dir of the same
# (owner, sf_dir), which removes the stale rollup with its entry. A
# real deployment's maintained table is refreshed BY the ingest
# (operators/ivm); the fingerprint is the stand-in's write-path hook.
_Q18_ROLLUP_CACHE: dict[str, tuple[tuple, str]] = {}


def _lineitem_fingerprint(sf_dir: str) -> tuple:
    """(file count, total bytes, max mtime_ns) of the lineitem source —
    driver-side os.stat only, no Spark job. Catches restage/ingest into
    the same path; content-identical rewrites re-run one rollup build,
    which is the cheap side of that trade."""
    import os

    from etl_mudah_spark.operators.manifest import manifest_files

    stats = [
        os.stat(f)
        for f in manifest_files(os.path.join(sf_dir, "lineitem.parquet"))
    ]
    return (
        len(stats),
        sum(s.st_size for s in stats),
        max((s.st_mtime_ns for s in stats), default=0),
    )


def _q18_rollup(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    from etl_mudah_spark.functions.core import dsum2

    stamp = (spark.sparkContext.applicationId, _lineitem_fingerprint(sf_dir))
    stamped, rollup = _Q18_ROLLUP_CACHE.get(sf_dir, (None, None))
    if stamped != stamp:
        # dropped before the old dir goes, so a failed rebuild leaves
        # no entry pointing at a removed rollup
        _Q18_ROLLUP_CACHE.pop(sf_dir, None)
        rollup = f"{scratch_dir('big_orders_preagg', sf_dir)}/li_order_qty"
        # Range-sorted by qty_sum so the consumer's HAVING filter scans
        # only the row groups whose min/max straddle the threshold
        # (x100: 2.24 s -> 1.85 s, r13 decomp); free at refresh time
        # because IVM rewrites the rollup per version anyway.
        (
            load(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(dsum2("l_quantity").alias("qty_sum"))
            .repartitionByRange(16, "qty_sum")
            .sortWithinPartitions("qty_sum")
            .write.mode("overwrite")
            .parquet(rollup)
        )
        _Q18_ROLLUP_CACHE[sf_dir] = (stamp, rollup)
    return read_parquet(spark, rollup), rollup


@register(
    "big_orders_preagg",
    oracle="""
    WITH q AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS qty_sum
        FROM lineitem
        GROUP BY l_orderkey
        HAVING qty_sum > 250
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty_sum
    FROM q
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
    doc=(
        "TPC-H Q18 over a write-time per-order rollup — the layout-tier "
        "answer to the x100 hash-agg floor (BASELINE.md §17)."
    ),
)
def big_orders_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 answered from a WRITE-TIME per-order quantity rollup instead
    of re-aggregating raw lineitem per query — the layout lever that
    took the x100 point from 6.0 s to 1.67 s (1.75x DuckDB-from-raw,
    under the 2x gate; BASELINE.md §17, scripts/x100_decomp_r12.py).

    The rollup is exactly the shape operators/ivm.summing_agg
    maintains incrementally (per-key counts + sums refresh in O(batch)
    via incremental_agg — pinned by tests/test_ivm.py), so at 100 TB
    it is a maintained table in the layout, not a per-query build; the
    one-off staging here (scratch parquet, 4.4 s at x100) stands in
    for that maintained table, cached per (session, source dir,
    lineitem file fingerprint) so a long driver session invoking the
    query repeatedly reuses one scratch dir instead of leaking one per
    call (VERDICT r12) while a restaged source rebuilds (ADVICE r13).
    The
    DRIVER ORACLE recomputes the whole answer from raw lineitem, so
    the hash check proves the rollup path returns the exact
    from-scratch result. Same dsum2 compact-decimal lattice as
    big_orders — the parquet round-trip preserves it bit-for-bit."""
    rollup_df, rollup_path = _q18_rollup(spark, sf_dir)
    q = rollup_df.where(F.col("qty_sum") > 250)
    # Broadcast the filtered rollup ONLY when its parquet row-group
    # stats PROVE it fits under the session broadcast threshold — a
    # driver-side footer read over the range-sorted layout (round 15).
    # Spark estimates the filtered scan at full file size, plans
    # sort-merge, and the orders side pays a full shuffle write before
    # AQE's runtime conversion (x100: orders alone is ~380 MB of
    # shuffle; measured 1.91 s -> 1.15 s median with the hint). At
    # 100 TB the filtered set is GBs, the bound says so, and no hint is
    # applied — the decision is metadata-driven, never unconditional.
    from etl_mudah_spark.operators.layout import (
        broadcast_threshold_bytes,
        filtered_scan_bytes_bound,
    )

    bound = filtered_scan_bytes_bound(rollup_path, "qty_sum", 250.0)
    if bound is not None and bound <= broadcast_threshold_bytes(spark):
        q = F.broadcast(q)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer")
    return (
        q.join(orders, q.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "qty_sum")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share within a region, by year.
# Scale: the one big shuffle is lineitem⨝orders; nation/region/supplier
# joins broadcast (BROADCAST_DIMS); customer join shuffles on custkey.
# ---------------------------------------------------------------------------
@register(
    "nation_market_share",
    oracle=f"""
    WITH rev AS (
        SELECT year(o_orderdate) AS o_year,
               {_DISC_PRICE} AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           {oracle_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
             / {oracle_dsum('volume')} AS mkt_share
    FROM rev
    GROUP BY o_year
    """,
    doc="TPC-H Q8: NATION_3 supplier share of ASIA-customer revenue per year.",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", _disc_price().alias("volume"))
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")

    cust_nation = cust.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.where(F.col("r_name") == "ASIA")),
                nation.n_regionkey == region.r_regionkey,
            ).select("n_nationkey")
        ),
        cust.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    # no broadcast hint: supp_nation is supplier-proportional (SF x 10k
    # rows) — forced broadcasts are reserved for relations bounded
    # independent of scale (VERDICT r11 item 2); AQE still broadcasts
    # it when it measures small
    supp_nation = supp.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        supp.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_nation, orders.o_custkey == cust_nation.c_custkey)
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .select(F.year("o_orderdate").alias("o_year"), "volume", "supp_nation")
    )
    n3 = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0))
    return rev.groupBy("o_year").agg((dsum(n3) / dsum("volume")).alias("mkt_share"))


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: HAVING against a scalar subquery over the whole
# table. Spark: the scalar aggregate is a 1-row DataFrame crossJoined
# (broadcast) into the grouped frame — no collect, stays one lazy plan.
# ---------------------------------------------------------------------------
@register(
    "nation_acctbal_concentration",
    oracle=f"""
    WITH per_nation AS (
        SELECT n_name, {oracle_dsum('c_acctbal')} AS nation_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, nation_bal
    FROM per_nation
    WHERE nation_bal > (
        SELECT 0.05 * {oracle_dsum('c_acctbal')} FROM customer
    )
    """,
    doc="TPC-H Q11 shape: nations holding >5% of global customer balance.",
)
def nation_acctbal_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("c_acctbal").alias("nation_bal"))
    )
    threshold = cust.agg((0.05 * dsum("c_acctbal")).alias("_thresh"))
    return (
        per_nation.join(F.broadcast(threshold))
        .where(F.col("nation_bal") > F.col("_thresh"))
        .select("n_name", "nation_bal")
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier by revenue — grouped agg + global-max
# window filter (returns ALL tied maxima, like the spec's view form).
# ---------------------------------------------------------------------------
@register(
    "top_supplier_by_revenue",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, {oracle_dsum(_DISC_PRICE)} AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    doc="TPC-H Q15: supplier(s) with max quarterly revenue.",
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(dsum(_disc_price()).alias("total_rev"))
    # Global max as a 1-row broadcast crossJoin (not an unpartitioned
    # window, which funnels every supplier row through one task).
    mx = rev.agg(F.max("total_rev").alias("_max"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("_max"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: COUNT(DISTINCT) per group over a join.
# Scale: Spark plans distinct-agg as a two-phase expand/shuffle —
# partial distinct on (brand, type, suppkey) then count; no hot-spot.
# ---------------------------------------------------------------------------
@register(
    "brand_type_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, p_type
    """,
    doc="TPC-H Q16 shape: distinct supplier count per brand/type.",
)
def brand_type_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: join with disjunctive (OR-of-ANDs) mixed-side
# predicates — the classic "can't push below the join" case; Catalyst
# still pushes the single-side conjuncts it can derive.
# ---------------------------------------------------------------------------
@register(
    "disjunctive_join_revenue",
    oracle=f"""
    SELECT {oracle_dsum(_DISC_PRICE)} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
       OR (p_type = 'PROMO' AND l_quantity >= 40)
    """,
    doc="TPC-H Q19: revenue under disjunctive cross-table predicates.",
)
def disjunctive_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 40))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(dsum(_disc_price()).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.6 noted none in reference — engine surface).
# INTERSECT/EXCEPT compile to left-semi/left-anti over distinct — one
# shuffle each on the key.
# ---------------------------------------------------------------------------
@register(
    "customers_retained",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
    doc="INTERSECT: customers ordering in both 1996 and 1997.",
)
def customers_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    return year_keys(1996).intersect(year_keys(1997))


@register(
    "customers_churned",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
    doc="EXCEPT: customers ordering in 1996 but not 1997.",
)
def customers_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    # subtract == SQL EXCEPT (set semantics): a key ordering in BOTH
    # years is excluded regardless of multiplicity. (exceptAll would be
    # multiset difference — a 3×-in-1996 / 1×-in-1997 customer is NOT
    # churned but would survive it.)
    return year_keys(1996).subtract(year_keys(1997))


# ---------------------------------------------------------------------------
# Skew-salted two-phase aggregation (operators/skew.py). events'
# event_type has 5 values over ~sf×600k rows — exactly the hot-key
# shape that pins 5 reducers at 100 TB. Oracle is the PLAIN group-by:
# the salted rewrite must be bit-identical (exact decimal partials).
# ---------------------------------------------------------------------------
@register(
    "salted_event_totals",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           COUNT(value) AS cnt
    FROM events
    GROUP BY event_type
    """,
    doc="Skew-safe salted sum/count per event_type == plain GROUP BY.",
)
def salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return salted_sum_count(ev, ["event_type"], "value", n_salts=16, salt_from="event_id")


@register(
    "waiting_sole_late_supplier",
    oracle="""
    WITH lo AS (
        SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lo l1 JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 75 DAY
      AND EXISTS (
          SELECT 1 FROM lo l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lo l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > l3.o_orderdate + INTERVAL 75 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
    doc="TPC-H Q21 shape: sole-late-supplier wait counts (EXISTS + NOT EXISTS).",
)
def waiting_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q21 shape — which suppliers alone held up multi-supplier
    orders ("late" = shipped > 75 days after the order date, the
    receipt/commit-date predicate adapted to this schema). The oracle
    states it declaratively with correlated EXISTS / NOT EXISTS
    self-joins over the order's line items; executing it that way
    means three passes over the fact join. The engine reformulates
    both subqueries into ONE per-order aggregation — EXISTS(other
    supplier) == distinct suppliers > 1, NOT EXISTS(other late
    supplier) == distinct LATE suppliers == 1, and when exactly one
    supplier is late, max(late suppkey) IS that supplier — so the
    whole query is: fact-fact equi-join on orderkey (the canonical
    sort-merge shuffle at 100 TB), one grouped agg, a broadcast
    supplier-name join on the tiny qualifying set, TakeOrdered."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 75)
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supps"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        F.sum(F.when(late, 1).otherwise(0)).alias("n_late_lines"),
    )
    qualifying = per_order.where(
        (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1)
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qualifying.join(supp, qualifying.late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# "Idle" threshold for the Q22-shape query: fewer orders than this.
# The synthetic data gives every customer >= 1 order (median ~10), so a
# literal "no orders" predicate matches nothing anywhere.
IDLE_MAX_ORDERS = 5


@register(
    "idle_rich_customers_by_nation",
    oracle=f"""
    WITH thresh AS (
        SELECT {oracle_davg('c_acctbal')} AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {oracle_dsum('c_acctbal')} AS totacctbal
    FROM customer, thresh
    WHERE c_acctbal > thresh.avg_bal
      AND c_custkey NOT IN (
          SELECT o_custkey FROM orders GROUP BY o_custkey
          HAVING COUNT(*) >= {IDLE_MAX_ORDERS}
      )
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    doc=(
        "TPC-H Q22 shape: above-average-balance customers with fewer "
        "than 5 orders, per nation."
    ),
)
def idle_rich_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q22 shape (nationkey standing in for the phone country
    code): customers whose balance beats the positive-balance average
    but who barely order, counted per nation.

    Round 5: the original "never ordered" predicate was VACUOUS on the
    synthetic data (every customer has >= 1 order — both engines
    returned 0 rows, so the driver's hash check exercised nothing).
    "Idle" is now "fewer than IDLE_MAX_ORDERS orders", which qualifies
    a real set (27 customers at sf0.01) while keeping the Q22 anti-join
    shape: the busy-customer set comes from one partial-aggregated
    count on the column-pruned o_custkey, and the NOT IN is a left_anti
    join against it. The scalar subquery folds in as a 1-row broadcast
    crossJoin (no eager .first() job — the repo-wide pattern for scalar
    lookups), and the threshold uses the order-independent decimal mean
    so the filter boundary is bit-identical to the oracle's."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    thresh = cust.where(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    busy = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") >= IDLE_MAX_ORDERS)
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(busy, cust.c_custkey == busy.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "orders_per_customer_dist",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: distribution of customers by order count (zeros kept).",
)
def orders_per_customer_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q13 shape — a histogram of engagement: how many customers
    placed 0, 1, 2, ... orders. Two-level aggregation where the LEFT
    join is load-bearing: COUNT(o_orderkey) over the outer join keeps
    zero-order customers as c_count = 0 (an inner join would silently
    drop the most interesting bucket).

    Scale: the join and the first groupBy share the c_custkey
    partitioning (one exchange covers both), and the second aggregate
    reduces O(customers) rows to O(distinct counts) — map-side combine
    makes the final exchange trivial."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "parts_pareto_80",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT rev,
               SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                              ROWS UNBOUNDED PRECEDING) AS cum_rev,
               SUM(rev) OVER () AS total_rev
        FROM per_part
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total_parts,
           CAST(SUM(CASE WHEN 10 * (cum_rev - rev) < 8 * total_rev
                         THEN 1 ELSE 0 END) AS BIGINT) AS parts_to_80pct
    FROM ranked
    """,
    doc="Pareto/ABC analysis: parts needed to cover 80% of discounted revenue.",
)
def parts_pareto_80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto/ABC inventory question: how many top parts account
    for 80% of revenue. A part counts while the revenue BEFORE it
    (cum - own) is still under the threshold, so the part that crosses
    80% is included — the standard ABC cutoff rule, and one that makes
    the count invariant to how ties inside the cumulative sum are
    ordered (the deterministic (rev desc, partkey) order pins it
    anyway). Revenue stays DECIMAL end-to-end — through the per-part
    agg AND both window sums — and the threshold compares
    10*(cum-own) < 8*total in integer-scaled decimals, so no double
    accumulation (whose association order differs between Spark's
    running frame and DuckDB's segment-tree windows) can flip the
    boundary.

    Scale (round 5): the per-part agg is the only big shuffle, but
    O(parts) grows with sf, so the cumulative sum comes from
    operators/sampling.py:bucketed_running_sum — revenue-range buckets
    (-floor(rev/1024) is order-aligned with rev desc), per-bucket
    decimal totals cumsum'd into offsets, and the only full-width
    window is hash-partitioned by bucket. total_rev folds in as a
    1-row broadcast crossJoin, not a partitionless window."""
    from etl_mudah_spark.operators import sampling as smp

    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("rev")
    )
    ranked = smp.bucketed_running_sum(
        per_part,
        bucket=(-F.floor(F.col("rev") / 1024)).cast("long"),
        order_cols=[F.col("rev").desc(), F.col("l_partkey").asc()],
        val=F.col("rev"),
        sum_col="cum_rev",
    )
    total = per_part.agg(F.sum("rev").alias("total_rev"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .agg(
            F.count("*").alias("total_parts"),
            F.sum(
                F.when(
                    10 * (F.col("cum_rev") - F.col("rev")) < 8 * F.col("total_rev"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("parts_to_80pct"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: volume shipping between nation pairs by ship year.
# The nation-key filters sit on the BROADCAST dimension sides, so the
# 6-way join degenerates to: lineitem scan -> two broadcast-hash probes
# (supplier+nation, then orders->customer+nation via two shuffle joins)
# with the pair predicate applied before the aggregate. The nation-pair
# domain is capped (keys < Q7_NATION_KEYS) so the result set stays a
# small grouped frame at any sf.
# ---------------------------------------------------------------------------
Q7_NATION_KEYS = 5
_Q7_DATE_LO, _Q7_DATE_HI = "1996-01-01", "1997-12-31"


@register(
    "nation_pair_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(l_shipdate) AS l_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {oracle_dsum(_DISC_PRICE)} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey < {Q7_NATION_KEYS} AND n2.n_nationkey < {Q7_NATION_KEYS}
      AND n1.n_nationkey <> n2.n_nationkey
      AND l_shipdate BETWEEN DATE '{_Q7_DATE_LO}' AND DATE '{_Q7_DATE_HI}'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: revenue between nation pairs by ship year.",
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(_Q7_DATE_LO, _Q7_DATE_HI)
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").where(
        F.col("n_nationkey") < Q7_NATION_KEYS
    ).select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.count("*").alias("n_items"),
            dsum(_disc_price()).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: one nation's market share inside one region's market
# for one part type, by order year. Share = conditional decimal sum /
# total decimal sum — both order-independent, the division done once
# per year row and rounded on both engines.
# ---------------------------------------------------------------------------
Q8_SHARE_NATION = "NATION_3"
Q8_MARKET_REGION = "ASIA"
Q8_PART_TYPE = "ECONOMY"


@register(
    "nation_market_share_in_region",
    oracle=f"""
    WITH vol AS (
        SELECT YEAR(o_orderdate) AS o_year,
               CAST(({_DISC_PRICE}) AS DECIMAL(18,6)) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON p_partkey = l_partkey AND p_type = '{Q8_PART_TYPE}'
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey AND r_name = '{Q8_MARKET_REGION}'
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
    )
    SELECT o_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CASE WHEN supp_nation = '{Q8_SHARE_NATION}'
                               THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year
    """,
    doc=(
        "TPC-H Q8 shape: one nation's revenue share of one region's "
        "market for one part type, by order year."
    ),
)
def nation_market_share_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(
        F.col("p_type") == Q8_PART_TYPE
    ).select("p_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(
        F.col("r_name") == Q8_MARKET_REGION
    ).select("r_regionkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    market_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("mkt_nkey"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(market_nations), F.col("c_nationkey") == F.col("mkt_nkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _disc_price().cast(_DEC).alias("volume"),
            "supp_nation",
        )
    )
    share_vol = F.sum(
        F.when(F.col("supp_nation") == Q8_SHARE_NATION, F.col("volume")).otherwise(
            F.lit(0).cast(_DEC)
        )
    )
    return vol.groupBy("o_year").agg(
        F.count("*").alias("n_items"),
        F.round(
            share_vol.cast("double") / F.sum("volume").cast("double"), 6
        ).alias("mkt_share"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue by customer — a quarter of
# orders, only 'R' lineitems, top-20 losers with full customer payload.
# Scale: both filters (date on orders, returnflag on lineitem) are
# pushed to the scans BEFORE the orderkey shuffle join; customer joins
# after the groupBy so the shuffle carries (custkey, revenue) partials,
# not the 8-column customer payload; nation broadcasts at any sf.
# ---------------------------------------------------------------------------
_Q10_DATE_LO, _Q10_DATE_HI = "1996-01-01", "1996-10-01"


@register(
    "returned_item_customers",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           ROUND({oracle_dsum(_DISC_PRICE)}, 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(MAX(c_acctbal), 2) AS acctbal
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '{_Q10_DATE_LO}'
      AND o_orderdate < DATE '{_Q10_DATE_HI}'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc=(
        "TPC-H Q10 shape: top-20 customers by revenue lost to returned "
        "items in a 3-quarter window."
    ),
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q10_DATE_LO).cast("date"))
        & (F.col("o_orderdate") < F.lit(_Q10_DATE_HI).cast("date"))
    ).select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # Aggregate to per-customer partials FIRST, then join the customer
    # payload onto 20 + ties worth of rows — at 100 TB the orderkey
    # join is the only big shuffle; the custkey groupBy output is
    # |customers| rows, and the payload join shuffles that, not
    # lineitem.
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(dsum(_disc_price()), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            "n_items",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-line profit by supplier nation and order
# year. The schema has no partsupp table (TESTDATA.md), so supply cost
# is proxied as 60% of p_retailprice — the JOIN GRAPH (lineitem ⨝ part
# ⨝ supplier ⨝ orders ⨝ nation, part filtered on a name substring) is
# what this query exercises, not TPC-H's cost constants.
# Scale: part pre-filtered on the substring then broadcast while small
# (AQE re-plans when it isn't); supplier/nation broadcast at any sf;
# the one unavoidable big shuffle is lineitem ⨝ orders on orderkey.
# ---------------------------------------------------------------------------
_Q9_PART_SUBSTR = "widget"


@register(
    "part_profit_by_nation_year",
    oracle=f"""
    SELECT n_name, YEAR(o_orderdate) AS o_year,
           ROUND({oracle_dsum(f'{_DISC_PRICE} - 0.6 * p_retailprice * l_quantity')}, 2)
               AS profit,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%{_Q9_PART_SUBSTR}%'
    GROUP BY n_name, o_year
    """,
    doc=(
        "TPC-H Q9 shape: profit (revenue minus proxied supply cost) on "
        "one product line, by supplier nation and order year."
    ),
)
def part_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    part = load(spark, sf_dir, "part").where(
        F.col("p_name").contains(_Q9_PART_SUBSTR)
    ).select("p_partkey", "p_retailprice")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = _disc_price() - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(dsum(profit), 2).alias("profit"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6: forecasting revenue change — the pure-scan aggregate. The
# whole query is a filter stack + one global sum: zero shuffles beyond
# the single-row partial-agg exchange, every predicate pushed to the
# parquet scan (range on l_shipdate, BETWEEN on l_discount, < on
# l_quantity), and the arithmetic stays inside whole-stage codegen. At
# 100 TB this is THE query whose cost is purely scan bandwidth — the
# benchmark's floor-measurement twin (pinned plan shape alongside
# pricing_summary in tests/test_plans.py scan assertions).
# ---------------------------------------------------------------------------
@register(
    "forecast_revenue_change",
    oracle=f"""
    SELECT {oracle_dsum('l_extendedprice * l_discount')} AS revenue_delta,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: revenue delta from discount elimination (pure scan agg).",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue_delta"
            ),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: promotable suppliers — nested semi-join with a
# correlated aggregate threshold. The testdata has no partsupp table,
# so availqty is adapted out: a supplier qualifies when some 'widget'
# part it shipped in 1996 moved more than QTY_BOUND units (the
# group-HAVING replaces the availqty comparison; the join TOPOLOGY —
# filtered part list → lineitem agg per (supp, part) → threshold →
# DISTINCT semi-join up to supplier — is Q20's). Scale: part filter
# broadcasts, the (supp, part) agg is the only fact shuffle, the final
# semi-join is dim-sized. Adaptation per SURVEY.md §6 testdata notes.
# ---------------------------------------------------------------------------
_Q20_QTY_BOUND = 40


@register(
    "promotable_widget_suppliers",
    oracle=f"""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%widget'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l_quantity) > {_Q20_QTY_BOUND}
    )
    ORDER BY s.s_name
    """,
    doc=(
        "TPC-H Q20 shape: suppliers that moved > bound units of a "
        "widget part in 1996 (correlated-agg threshold + semi-join)."
    ),
)
def promotable_widget_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget"))
    supp = load(spark, sf_dir, "supplier")
    movers = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > _Q20_QTY_BOUND)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "part_basket_lift",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), n AS (
        SELECT COUNT(DISTINCT okey) AS n_orders FROM ob
    ), cb AS (
        SELECT brand, COUNT(*) AS c FROM ob GROUP BY brand
    ), pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS support
        FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, support,
           ROUND(support * 1.0 * n_orders / ca.c / cbb.c, 6) AS lift
    FROM pairs, n
    JOIN cb ca ON ca.brand = brand_a
    JOIN cb cbb ON cbb.brand = brand_b
    WHERE support * 1.0 / n_orders >= 0.0005
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 20
    """,
    doc=(
        "Market-basket association over co-ordered part brands: "
        "support + lift, top-20 pairs by lift (min relative support "
        "0.05%)."
    ),
)
def part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand co-occurrence mining (the retail 'bought together'
    query): per-order distinct brand sets, pair support via a
    self-join on the order key, lift = P(a,b) / (P(a)·P(b)) over order
    probabilities. Minimum support is RELATIVE (0.05% of orders) so
    the same query is meaningful at every sf.

    Scale shape: the lineitem⨝part brand lookup shuffles on partkey
    once, then every stage is keyed — distinct on (order, brand) and
    the pair self-join both shuffle on the order key (per-order basket
    size is bounded — TPC-H ≤ 7 items — so the within-key pair blowup
    is a constant factor, the property that makes order-keyed basket
    joins safe at any corpus size, unlike user- or session-keyed
    ones); brand marginals are a dimension-bounded table that
    broadcasts onto the pair counts; the order total is a 1-row
    broadcast. Ranking orders by ROUNDED lift (6 dp) so the limit cut
    is stable across engines.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n = ob.agg(F.countDistinct("okey").alias("n_orders"))
    cb = ob.groupBy("brand").agg(F.count("*").alias("c"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count("*").alias("support"))
    )
    # Sequential double division: ca_c*cb_c as a bigint product overflows
    # int64 in the 100 TB regime (25 brands => each marginal ~ n_orders,
    # ~1.5e11 each at sf1e5, product ~ 2e22 > 2^63), flipping every lift
    # sign under non-ANSI semantics. Operand order matches the oracle SQL
    # exactly so the rounded doubles still hash-match.
    lift = F.round(
        F.col("support") * 1.0 * F.col("n_orders") / F.col("ca_c") / F.col("cb_c"),
        6,
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .where(F.col("support") * 1.0 / F.col("n_orders") >= 0.0005)
        .join(
            F.broadcast(
                cb.select(F.col("brand").alias("brand_a"), F.col("c").alias("ca_c"))
            ),
            "brand_a",
        )
        .join(
            F.broadcast(
                cb.select(F.col("brand").alias("brand_b"), F.col("c").alias("cb_c"))
            ),
            "brand_b",
        )
        .select("brand_a", "brand_b", "support", lift.alias("lift"))
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Iterative-algorithm class: PageRank over the customer<->supplier
# trading graph, driven to oracle-hash parity. The operator's
# exact_contrib_decimal mode makes every per-round sum an EXACT
# decimal aggregate (order-independent), and total_mass=1e9 lifts
# ranks into a magnitude where the (18,6) cast keeps ~9 significant
# digits — so THREE unrolled power-method rounds land on identical
# doubles in Spark and DuckDB. The graph is symmetric by construction
# (both edge directions), so the dangling-mass term is exactly 0 and
# the oracle can omit it. 3 rounds is the oracle-tractable setting;
# production uses the same operator at 10-20 rounds. The base term's
# CAST(1.0 AS DOUBLE) forces DuckDB onto IEEE double arithmetic: as
# decimals, (1.0 - 0.85)*1e9 is exactly 1.5e8, but the operator
# computes the Python float (1.0 - damping) * total_mass =
# 150000000.00000003 — the cast makes both engines take the identical
# subtract-multiply-divide double path instead of relying on ROUND to
# absorb a ~2e-8 drift.
# ---------------------------------------------------------------------------
@register(
    "supplier_customer_pagerank",
    oracle="""
    WITH pair AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS MATERIALIZED (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pair
        UNION ALL
        SELECT s * 2 + 1, c * 2 FROM pair
    ), nn AS MATERIALIZED (
        SELECT COUNT(DISTINCT src) AS n FROM e
    ), deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS d FROM e GROUP BY src
    ), r0 AS (
        SELECT deg.src AS node, 1000000000.0 / nn.n AS r
        FROM deg CROSS JOIN nn
    ), r1 AS MATERIALIZED (
        SELECT e.dst AS node,
               (CAST(1.0 AS DOUBLE) - 0.85) * 1000000000.0 / nn.n
               + 0.85 * CAST(SUM(CAST(p.r / deg.d AS DECIMAL(18,6)))
                             AS DOUBLE) AS r
        FROM e
        JOIN r0 p ON p.node = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst, nn.n
    ), r2 AS MATERIALIZED (
        SELECT e.dst AS node,
               (CAST(1.0 AS DOUBLE) - 0.85) * 1000000000.0 / nn.n
               + 0.85 * CAST(SUM(CAST(p.r / deg.d AS DECIMAL(18,6)))
                             AS DOUBLE) AS r
        FROM e
        JOIN r1 p ON p.node = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst, nn.n
    ), r3 AS MATERIALIZED (
        SELECT e.dst AS node,
               (CAST(1.0 AS DOUBLE) - 0.85) * 1000000000.0 / nn.n
               + 0.85 * CAST(SUM(CAST(p.r / deg.d AS DECIMAL(18,6)))
                             AS DOUBLE) AS r
        FROM e
        JOIN r2 p ON p.node = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst, nn.n
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS entity_key,
           ROUND(r, 4) AS pagerank_scaled
    FROM r3
    ORDER BY ROUND(r, 4) DESC, node
    LIMIT 25
    """,
    doc=(
        "3-round PageRank over the symmetric customer-supplier trade "
        "graph (exact decimal contribution sums, mass scaled 1e9); "
        "top-25 nodes — the oracle unrolls the power method in SQL."
    ),
)
def supplier_customer_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py) over the bipartite
    customer<->supplier graph induced by line items: who are the most
    central trading entities. Per round: one shuffle join of the rank
    vector against the edge list and one map-side-partial aggregate on
    the destination — the standard distributed power-method shape, with
    localCheckpoint truncating the iterative lineage. Exact decimal
    contribution sums make the result independent of partitioning and
    engine (see the operator's determinism notes)."""
    from etl_mudah_spark.operators import graph as gr

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pair.select(
        F.col("cnode").alias("a"), F.col("snode").alias("b")
    ).unionByName(
        pair.select(F.col("snode").alias("a"), F.col("cnode").alias("b"))
    )
    ranks = gr.pagerank(
        edges,
        iterations=3,
        total_mass=1e9,
        exact_contrib_decimal="decimal(18,6)",
    )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node DIV 2").alias("entity_key"),
            F.round("rank", 4).alias("pagerank_scaled"),
            "node",
        )
        .orderBy(F.desc("pagerank_scaled"), "node")
        .limit(25)
        .drop("node")
    )


# ---------------------------------------------------------------------------
# Runtime-filter class: explicit Bloom semi-join reduction. The exact
# semi-join answer, computed by pruning the fact side with k broadcast
# bitmap probes BEFORE the only fact shuffle — the InjectRuntimeFilter
# idea as a composable operator (operators/bloom.py) instead of a
# planner heuristic. The oracle is the plain IN-subquery: Bloom false
# positives are removed by the exact join, so results are identical
# and the filter only changes HOW MANY bytes the exact join shuffles
# (~0.7% of lineitem at this predicate).
# ---------------------------------------------------------------------------
@register(
    "lineitem_bloom_semijoin",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {oracle_dsum(_DISC_PRICE)} AS revenue
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= DATE '1997-01-01'
          AND o_orderdate < DATE '1997-04-01'
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc=(
        "Exact dim-filtered semi-join revenue with Bloom pre-pruning: "
        "k=3 broadcast bitmap probes drop ~99% of lineitem before the "
        "exact semi-join shuffle; oracle is the plain IN-subquery."
    ),
)
def lineitem_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of line items on urgent 1997-Q1 orders, via
    operators/bloom.py bloom_semi_join: the 131072-bit filter built
    from the ~116 (sf0.01) dim keys in one tiny shuffle, fact rows
    pruned by three broadcast hash-joins in whole-stage codegen (no
    fact-side exchange until survivors), then the exact left_semi join
    on the ~0.7% that remain. At 100 TB this is the shape for
    dim-filtered fact joins whose dim keys outgrow a broadcast but
    whose BITMAP doesn't (16 KB here) — the shuffle the plain join
    pays on all of lineitem is paid only on matching rows."""
    from etl_mudah_spark.operators.bloom import bloom_semi_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    dim = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("date"))
        )
        .select("o_orderkey")
    )
    return (
        bloom_semi_join(li, "l_orderkey", dim, "o_orderkey", n_bits=1 << 17, k=3)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            dsum(_disc_price()).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Graph-traversal class: level-synchronous BFS over the same bipartite
# trade graph PageRank uses, oracle'd by a recursive CTE. The CTE's
# UNION (not UNION ALL) dedups (node, hops) STATES against everything
# already produced — the state space is |V|·(max_hops+1), never the
# path space (which is combinatorial: ~43M length-3 paths at sf0.01) —
# and MIN(hops) per node at the end equals the BFS visited-exclusion
# distance. Hop counts are exact integers; nothing floats.
# ---------------------------------------------------------------------------
@register(
    "supplier_reach_khop",
    oracle="""
    WITH RECURSIVE pair AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS MATERIALIZED (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pair
        UNION ALL
        SELECT s * 2 + 1, c * 2 FROM pair
    ), reach(node, hops) AS (
        SELECT s_suppkey * 2 + 1, 0 FROM supplier WHERE s_suppkey <= 3
        UNION
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN e ON e.src = r.node
        WHERE r.hops < 3
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_key,
           CAST(MIN(hops) AS INT) AS hops
    FROM reach
    GROUP BY node
    ORDER BY hops, node_type, entity_key
    """,
    doc=(
        "3-hop BFS reach from the three lowest-key suppliers over the "
        "bipartite customer-supplier trade graph: minimum hop "
        "distance per reached entity (recursive-CTE oracle)."
    ),
)
def supplier_reach_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius reachability (operators/graph.bfs_hops): which
    entities sit within 3 trade hops of the seed suppliers
    (s_suppkey <= 3 — non-empty at every sf, unlike a nation filter). Per level
    the plan joins only the FRONTIER against the edge list (one
    key-shuffle), distincts the next frontier, and anti-joins the
    visited set — state-space bounded at |V| per level, while the
    oracle's path space is combinatorial (~43M 3-paths at sf0.01); the
    frontier dedup is what makes BFS, not path enumeration, the
    100 TB-safe formulation. Node ids use PageRank's even/odd
    encoding; hop counts are exact ints."""
    from etl_mudah_spark.operators import graph as gr

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pair.select(
        F.col("cnode").alias("a"), F.col("snode").alias("b")
    ).unionByName(
        pair.select(F.col("snode").alias("a"), F.col("cnode").alias("b"))
    )
    seeds = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 3)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    reached = gr.bfs_hops(edges, seeds, max_hops=3)
    return (
        reached.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node DIV 2").cast("bigint").alias("entity_key"),
            F.col("hops").cast("int").alias("hops"),
        )
        .orderBy("hops", "node_type", "entity_key")
    )


@register(
    "supplier_ppr_topk",
    oracle="""
    WITH pair AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS MATERIALIZED (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pair
        UNION ALL
        SELECT s * 2 + 1, c * 2 FROM pair
    ), seed AS MATERIALIZED (
        SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey <= 3
    ), nodes AS MATERIALIZED (
        SELECT node, MAX(is_seed) AS is_seed FROM (
            SELECT src AS node, 0 AS is_seed FROM e
            UNION ALL SELECT dst, 0 FROM e
            UNION ALL SELECT node, 1 FROM seed
        ) GROUP BY node
    ), kk AS MATERIALIZED (
        SELECT SUM(is_seed) AS k FROM nodes
    ), deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS d FROM e GROUP BY src
    ), r0 AS MATERIALIZED (
        SELECT n.node, n.is_seed,
               CASE WHEN n.is_seed = 1 THEN 1000000000.0 / kk.k
                    ELSE 0.0 END AS r
        FROM nodes n CROSS JOIN kk
    ), d0 AS (
        SELECT COALESCE(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS dm
        FROM r0 WHERE node NOT IN (SELECT src FROM deg)
    ), r1 AS MATERIALIZED (
        SELECT n.node, n.is_seed,
               CASE WHEN n.is_seed = 1
                    THEN ((CAST(1.0 AS DOUBLE) - 0.85) * 1000000000.0
                          + 0.85 * d0.dm) / kk.k
                    ELSE 0.0 END
               + 0.85 * COALESCE(p.pushed, 0.0) AS r
        FROM nodes n CROSS JOIN kk CROSS JOIN d0
        LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(r0.r / deg.d AS DECIMAL(18,6))) AS DOUBLE)
                       AS pushed
            FROM e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) p ON p.node = n.node
    ), d1 AS (
        SELECT COALESCE(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS dm
        FROM r1 WHERE node NOT IN (SELECT src FROM deg)
    ), r2 AS MATERIALIZED (
        SELECT n.node, n.is_seed,
               CASE WHEN n.is_seed = 1
                    THEN ((CAST(1.0 AS DOUBLE) - 0.85) * 1000000000.0
                          + 0.85 * d1.dm) / kk.k
                    ELSE 0.0 END
               + 0.85 * COALESCE(p.pushed, 0.0) AS r
        FROM nodes n CROSS JOIN kk CROSS JOIN d1
        LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(r1.r / deg.d AS DECIMAL(18,6))) AS DOUBLE)
                       AS pushed
            FROM e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) p ON p.node = n.node
    ), d2 AS (
        SELECT COALESCE(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS dm
        FROM r2 WHERE node NOT IN (SELECT src FROM deg)
    ), r3 AS MATERIALIZED (
        SELECT n.node, n.is_seed,
               CASE WHEN n.is_seed = 1
                    THEN ((CAST(1.0 AS DOUBLE) - 0.85) * 1000000000.0
                          + 0.85 * d2.dm) / kk.k
                    ELSE 0.0 END
               + 0.85 * COALESCE(p.pushed, 0.0) AS r
        FROM nodes n CROSS JOIN kk CROSS JOIN d2
        LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(r2.r / deg.d AS DECIMAL(18,6))) AS DOUBLE)
                       AS pushed
            FROM e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) p ON p.node = n.node
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_key,
           ROUND(r, 4) AS ppr_scaled
    FROM r3
    WHERE ROUND(r, 4) > 0
    ORDER BY ROUND(r, 4) DESC, node
    LIMIT 25
    """,
    doc=(
        "3-round personalized PageRank from the seed suppliers "
        "(s_suppkey <= 3) over the bipartite trade graph: teleport + "
        "dangling mass return to the seeds; top-25 by rank (the SQL "
        "oracle unrolls the seeded power method)."
    ),
)
def supplier_ppr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood importance relative to the seed suppliers
    (operators/graph.personalized_pagerank): the weighted complement
    of supplier_reach_khop's 0/1 reachability — who matters from
    here, not merely who is reachable. Same per-round plan budget as
    the global PageRank (src-keyed push join + dst-keyed partial-sum
    agg + 1-row dangling aggregate, checkpointed lineage); the seed
    flag rides the rank vector, adding no join. Exact decimal
    contribution sums at mass 1e9 land both engines on identical
    doubles (the supplier_customer_pagerank determinism recipe)."""
    from etl_mudah_spark.operators import graph as gr

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pair.select(
        F.col("cnode").alias("a"), F.col("snode").alias("b")
    ).unionByName(
        pair.select(F.col("snode").alias("a"), F.col("cnode").alias("b"))
    )
    seeds = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 3)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    ranks = gr.personalized_pagerank(
        edges,
        seeds,
        iterations=3,
        total_mass=1e9,
        exact_contrib_decimal="decimal(18,6)",
    )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node DIV 2").cast("bigint").alias("entity_key"),
            F.round("rank", 4).alias("ppr_scaled"),
            "node",
        )
        .where(F.col("ppr_scaled") > 0)
        .orderBy(F.desc("ppr_scaled"), "node")
        .limit(25)
        .drop("node")
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH per AS (
        SELECT o_custkey,
               CAST(datediff('day', MAX(o_orderdate),
                             TIMESTAMP '2001-09-01') AS INT) AS r_days,
               COUNT(*) AS f,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS m
        FROM orders GROUP BY o_custkey
    ), scored AS (
        SELECT r_days, f, m,
               CASE WHEN r_days <= 90 THEN 5 WHEN r_days <= 180 THEN 4
                    WHEN r_days <= 365 THEN 3 WHEN r_days <= 730 THEN 2
                    ELSE 1 END AS r_score,
               CASE WHEN f >= 16 THEN 5 WHEN f >= 12 THEN 4
                    WHEN f >= 8 THEN 3 WHEN f >= 4 THEN 2
                    ELSE 1 END AS f_score,
               CASE WHEN m >= 4000000 THEN 5 WHEN m >= 3000000 THEN 4
                    WHEN m >= 2000000 THEN 3 WHEN m >= 1000000 THEN 2
                    ELSE 1 END AS m_score
        FROM per
    ), seg AS (
        SELECT *,
               CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
                    WHEN f_score >= 4 THEN 'loyal'
                    WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                    WHEN r_score <= 2 THEN 'hibernating'
                    ELSE 'regular' END AS segment
        FROM scored
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(r_days AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_recency_days,
           CAST(SUM(CAST(f AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_frequency,
           CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_monetary
    FROM seg GROUP BY segment ORDER BY segment
    """,
    doc=(
        "RFM segmentation: per-customer recency/frequency/monetary "
        "scores on fixed literal thresholds, collapsed into the five "
        "classic marketing segments with per-segment profiles."
    ),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer-value lens the reference's dashboard never builds
    (its pages profile LISTINGS, e.g. streamlit/pages/
    market_overview.py — RFM profiles the BUYERS): recency to a fixed
    horizon, order frequency, lifetime spend, each scored 1-5 on
    literal thresholds (fixed edges for the same determinism reason
    the drift bins are fixed — data-dependent quintile edges would
    make the segmentation itself a float race), then the five classic
    segments. One customer-grain aggregation with map-side partials
    and one bounded segment aggregation — no join, no window; spend
    rides the decimal lattice so every per-segment mean is
    partition-order-exact."""
    per = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit("2001-09-01").cast("date"), F.max("o_orderdate")
            ).alias("r_days"),
            F.count("*").alias("f"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("m"),
        )
    )
    r_score = (
        F.when(F.col("r_days") <= 90, 5)
        .when(F.col("r_days") <= 180, 4)
        .when(F.col("r_days") <= 365, 3)
        .when(F.col("r_days") <= 730, 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("f") >= 16, 5)
        .when(F.col("f") >= 12, 4)
        .when(F.col("f") >= 8, 3)
        .when(F.col("f") >= 4, 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("m") >= 4000000, 5)
        .when(F.col("m") >= 3000000, 4)
        .when(F.col("m") >= 2000000, 3)
        .when(F.col("m") >= 1000000, 2)
        .otherwise(1)
    )
    seg = (
        F.when((r_score >= 4) & (f_score >= 4), "champions")
        .when(f_score >= 4, "loyal")
        .when((r_score <= 2) & (f_score >= 3), "at_risk")
        .when(r_score <= 2, "hibernating")
        .otherwise("regular")
    )
    dsum6 = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    return (
        per.groupBy(seg.alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            (dsum6(F.col("r_days")) / F.count("*")).alias(
                "avg_recency_days"
            ),
            (dsum6(F.col("f")) / F.count("*")).alias("avg_frequency"),
            (dsum6(F.col("m")) / F.count("*")).alias("avg_monetary"),
        )
        .orderBy("segment")
    )
