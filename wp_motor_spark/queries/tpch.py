"""Relational core: the TPC-H shapes plus the SQL surface (semi-join, set
operators, PIVOT, CUBE and ROLLUP, RANGE frames, as-of join) a reference
user gets by moving to Spark.

The test schema is trimmed: no partsupp table, no l_commitdate,
l_receiptdate or l_shipmode, no phone. Each TPC-H query is therefore a
shape adaptation: the join topology, the decorrelation pattern and the
aggregate structure of the spec query, re-keyed onto columns the corpus
has. The (part, supplier) supply relation is derived from lineitem where
the spec reads partsupp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.queries._common import _dec, _t, query


@query("""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) * CAST(1.0 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over lineitem: grouped pricing summary."""
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec(F.lit(1.0) - F.col("l_discount"))
    tax = _dec(F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(_dec(F.col("l_extendedprice")) * disc).cast("double").alias("sum_disc_price"),
            F.sum(_dec(F.col("l_extendedprice")) * disc * tax).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query("""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) > 100000
""")
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order for BUILDING-segment customers (TPC-H Q3 shape).

    No explicit broadcast hints on SF-scaling tables (customer grows with
    the corpus): AQE broadcasts when the filtered side is actually small
    and falls back to shuffle joins at scale. Only fixed-cardinality dims
    (nation/region) ever carry hints.
    """
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec(F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"))
        .where(F.col("revenue") > 100000)
    )


@query("""
SELECT p_brand AS brand, n_name AS supp_nation,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS line_count
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY p_brand, n_name
""")
def supplier_part_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide 4-way join: revenue by part brand and supplier nation."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    disc = _dec(F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("n_name").alias("supp_nation"))
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@query("""
SELECT c_custkey, c_name, n_name, revenue, rank FROM (
  SELECT c_custkey, c_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         ROW_NUMBER() OVER (ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) DESC, c_custkey) AS rank
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
) WHERE rank <= 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customers by returned-item revenue (TPC-H Q10 shape): join +
    agg + ranked top-N."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    disc = _dec(F.lit(1.0) - F.col("l_discount"))
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_dec(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"))
    )
    # top-N first (TakeOrderedAndProject — per-partition heaps, no global
    # sort), then rank the 20 survivors; a bare global row_number would
    # single-partition the whole aggregate
    top = rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)
    # constant partition key over the 20 survivors: identical plan shape,
    # but a non-empty partition spec keeps WindowExec from WARNing (a bare
    # lit(0) or col*0 is constant-folded back out; col % 1 survives)
    w = Window.partitionBy(F.col("c_custkey") % 1).orderBy(
        F.desc("revenue"), F.asc("c_custkey")
    )
    return top.withColumn("rank", F.row_number().over(w))


@query("""
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
""")
def orders_with_big_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: orders having at least one high-quantity line item."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@query("""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation for one region where customer and
    supplier share the nation. Six-way join; nation/region are
    fixed-cardinality dims (broadcast), the SF-scaling fact joins go
    through AQE (shuffle or runtime-broadcast as size allows)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    revenue = _dec(F.col("l_extendedprice")) * _dec(F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(
            su,
            (li.l_suppkey == su.s_suppkey) & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@query("""
WITH v AS (
  SELECT user_id, ts, max(value) AS seen_value
  FROM events WHERE event_type IN ('view', 'click')
  GROUP BY user_id, ts
), p AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts,
       round(p.value, 4) AS purchase_value,
       v.ts AS seen_ts,
       round(v.seen_value, 4) AS seen_value,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS DOUBLE) AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""")
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase picks up the most recent prior (or
    simultaneous) view/click by the same user. Union-tag + one window
    shuffle on user_id — never a range join (which Catalyst can only
    nested-loop). The right side is pre-aggregated to one row per
    (user, ts) so the match is engine-independent; DuckDB's native ASOF
    LEFT JOIN is the oracle."""
    from wp_motor_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("seen_value"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(purchases, views, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 4).alias("purchase_value"),
        F.col("ts_right").alias("seen_ts"),
        F.round("seen_value_right", 4).alias("seen_value"),
        # double, not bigint: the unmatched rows' NULLs turn the oracle
        # column float64 in pandas — match the type on the Spark side
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right")))
        .cast("double")
        .alias("gap_us"),
    )


@query("""
SELECT r_name, n_name,
       CAST(grouping(r_name) AS INT) AS g_region,
       CAST(grouping(n_name) AS INT) AS g_nation,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
             AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical revenue rollup region → nation → grand total in ONE
    aggregation (Spark ROLLUP = grouping-sets expansion with map-side
    partial aggregation), dims broadcast. The hypertable-rollup shape:
    every level comes out of a single shuffle instead of one query per
    level."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    # two-phase: collapse the fact rows to |region x nation| partials
    # FIRST (one shuffle with map-side combine), then rollup over those
    # ~25 rows — the grouping-sets Expand multiplies its input by the
    # number of levels, so expanding pre-aggregated partials instead of
    # every joined lineitem keeps the expansion O(|groups|), not O(|rows|)
    base = joined.groupBy("r_name", "n_name").agg(
        F.sum(rev).alias("__rev"), F.count(F.lit(1)).alias("__cnt")
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            # grouping() must live inside the rollup's own agg in Spark
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.sum("__rev").cast("double").alias("revenue"),
            F.sum("__cnt").alias("n_items"),
        )
        .select(
            "r_name",
            "n_name",
            "g_region",
            "g_nation",
            F.round("revenue", 2).alias("revenue"),
            "n_items",
        )
    )


def _zorder_sql() -> str:
    from wp_motor_spark.operators.scale import zorder_key_sql

    z = zorder_key_sql(
        "(user_id % 256)",
        "least(greatest(CAST(floor(value / 4.0) AS BIGINT), 0), 255)",
        bits=8,
    )
    return f"""
SELECT event_id,
       CAST(user_id % 256 AS BIGINT) AS user_bucket,
       least(greatest(CAST(floor(value / 4.0) AS BIGINT), 0), 255) AS value_bucket,
       {z} AS zkey
FROM events
"""


@query(_zorder_sql())
def zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout keys over events (user bucket x value
    decile): the multi-dim clustering key a write-time OPTIMIZE would
    sort by, value-checked bit-for-bit against the identical unrolled
    arithmetic in DuckDB."""
    from wp_motor_spark.operators import scale

    ev = _t(spark, sf_dir, "events")
    ub = (F.col("user_id") % 256).cast("bigint")
    vb = F.least(
        F.greatest(F.floor(F.col("value") / 4.0).cast("bigint"), F.lit(0)),
        F.lit(255),
    )
    return ev.select(
        "event_id",
        ub.alias("user_bucket"),
        vb.alias("value_bucket"),
        scale.zorder_key(ub, vb, bits=8).alias("zkey"),
    )


@query("""
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue delta from lifting small discounts — one
    column-pruned, fully predicate-pushed lineitem scan + a single
    aggregate. The canonical 'does the filter reach the parquet reader'
    query (plan-asserted in tests/test_plans.py)."""
    li = _t(spark, sf_dir, "lineitem")
    sel = li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount"), 4))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    ).select(F.round("revenue", 2).alias("revenue"), "n_items")


@query("""
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM events WHERE user_id < 300 GROUP BY user_id
""")
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: per-user event counts spread into one column per
    event type (explicit value list keeps the schema static — the
    two-phase plan is identical to conditional aggregation, which is
    exactly what the oracle spells out)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.where(F.col("user_id") < 300)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


@query("""
SELECT o_custkey AS custkey FROM orders
WHERE o_orderdate < '1998-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= '1998-01-01'
EXCEPT
SELECT DISTINCT o_custkey FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R' AND o_orderdate >= '1999-06-01'
""")
def returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator surface: customers ordering in BOTH the early era
    (pre-1998) and the late era (1998+) (INTERSECT) minus those with a
    returned item after mid-1999 (EXCEPT) — the set algebra compiles to
    the same semi/anti joins a hand-written plan would use. Cohort
    boundaries split the generated 1995-2001 date range down the middle
    so the result is non-empty even at sf0.001 (16 rows; 41 before the
    EXCEPT — both branches exercised at every scale factor)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    early = orders.where(F.col("o_orderdate") < "1998-01-01").select("o_custkey")
    late = orders.where(F.col("o_orderdate") >= "1998-01-01").select("o_custkey")
    returned = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("o_orderdate") >= "1999-06-01")
        .select("o_custkey")
    )
    return (
        early.intersect(late).exceptAll(returned.distinct()).withColumnRenamed(
            "o_custkey", "custkey"
        )
    )


@query("""
SELECT round(CAST(
         sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  ELSE 0.0 END) * 100.0
         / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
       AS DOUBLE), 4) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from PROMO parts in one ship
    month — conditional aggregation over a single lineitem⋈part join
    with the date filter pushed to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    j = li.where(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    ).join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        (
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
            * 100.0
            / F.sum(rev)
        )
        .cast("double")
        .alias("promo_pct"),
        F.count(F.lit(1)).alias("n_items"),
    ).select(F.round("promo_pct", 4).alias("promo_pct"), "n_items")


@query("""
SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 2) AS cum_revenue
FROM orders
WHERE o_custkey < 200
""")
def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: each order carries its customer's cumulative
    revenue over all orders up to and INCLUDING the same order date —
    RANGE, not ROWS, so same-day orders share the same cumulative value
    (the frame-semantics distinction ROWS-based suites never exercise).
    One shuffle on the customer key."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    top = orders.where(F.col("o_custkey") < 200)
    return top.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.sum(_dec(F.col("o_totalprice")))
        .over(w)
        .cast("double")
        .alias("cum_revenue"),
    ).withColumn("cum_revenue", F.round("cum_revenue", 2))


@query("""
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) / 7 AS DOUBLE), 2)
         AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
""")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — revenue locked in small orders of a brand: parts
    whose lineitems fall below 20% of that part's average quantity. The
    correlated subquery decorrelates to ONE aggregation over lineitem
    (per-part avg) joined back — Catalyst would nested-loop the naive
    correlated form; the explicit rewrite is one extra shuffle of
    (partkey, avg) pairs, and the part filter prunes before the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    brand = part.where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    ).select("p_partkey")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_limit")
    )
    small = (
        li.join(brand, li.l_partkey == brand.p_partkey)
        .join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_limit"))
    )
    return small.agg(
        (F.sum(_dec(F.col("l_extendedprice"))) / 7).cast("double").alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    ).select(F.round("avg_yearly", 2).alias("avg_yearly"), "n_items")


@query("""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
GROUP BY o_orderpriority
""")
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts per priority for one quarter where
    EXISTS a qualifying lineitem — the correlated EXISTS compiles to a
    LEFT SEMI hash join on the order key (never a per-row subquery).
    Original predicate l_commitdate < l_receiptdate is absent from the
    test schema; l_quantity >= 48 keeps the same selectivity role."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.where(F.col("l_quantity") >= 48).select("l_orderkey")
    return (
        orders.where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query("""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipped revenue between two nations in either
    direction by (supplier nation, customer nation, ship year). The
    nation filters are pushed INTO the dimension sides before the fact
    joins (supplier/customer pre-restricted to the two nations), so
    lineitem fans out only against qualifying rows; the asymmetric-pair
    predicate reduces to supp != cust once both sides are binary."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pair = nation.where(F.col("n_name").isin("NATION_3", "NATION_8"))
    s_side = supp.join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("snk"),
                                F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("snk"),
    ).select("s_suppkey", "supp_nation")
    c_side = cust.join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("cnk"),
                                F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cnk"),
    ).select("c_custkey", "cust_nation")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(s_side, li.l_suppkey == s_side.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(c_side, orders.o_custkey == c_side.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query("""
SELECT year(o_orderdate) AS o_year,
       round(CAST(
         SUM(CASE WHEN n1.n_name = 'NATION_3'
                  THEN CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(1.0 - l_discount AS DECIMAL(18,4))
                  ELSE 0.0 END)
         / SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1.0 - l_discount AS DECIMAL(18,4)))
       AS DOUBLE), 4) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey  = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region   ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
GROUP BY 1
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of PROMO-part revenue
    sold to ASIA-region customers, per order year — conditional
    aggregation over a five-way join, all fixed-cardinality dims
    broadcast. Exact decimal sums for both numerator and denominator so
    the share matches the oracle bit-for-bit after rounding."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice"), 4) * _dec(F.lit(1.0) - F.col("l_discount"), 4)
    n1 = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    asia = (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("cnk"))
    )
    j = (
        li.join(part.where(F.col("p_type") == "PROMO"),
                li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia), cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("snk"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0)))
                    / F.sum(rev)
                ).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@query("""
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""")
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count — LEFT
    OUTER join with the filter INSIDE the join condition (so zero-order
    customers survive), two cascaded aggregations. The second groupBy
    keys on the first's output (at most |distinct counts| rows)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query("""
WITH r AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM r)
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over one
    quarter. The scalar MAX subquery becomes a broadcast equi-join on the
    revenue value (one-row build side) — no window, no second scan of
    lineitem (the per-supplier aggregate is reused for both sides)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1.0) - F.col("l_discount"))
    r = (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).cast("double").alias("total_revenue"))
    )
    mx = r.agg(F.max("total_revenue").alias("mx"))
    return (
        r.join(F.broadcast(mx), r.total_revenue == mx.mx)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query("""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(t.total_qty AS DOUBLE) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300) t ON o_orderkey = t.l_orderkey
JOIN customer ON o_custkey = c_custkey
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    joined back to customer/orders. The HAVING aggregate runs FIRST on
    lineitem alone (one key-only shuffle); only qualifying order keys —
    a tiny fraction — reach the 3-way join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@query("""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'PROMO' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
""")
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    predicate groups. All three disjuncts share the same equi-join key
    (partkey), so the plan is ONE hash join with the disjunction applied
    post-join — never a union of three scans."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & q.between(10, 30))
        | ((F.col("p_type") == "PROMO") & (F.col("p_size") <= 30) & q.between(20, 40))
    )
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query("""
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
       round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '1999-01-01')
GROUP BY 1
""")
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone quiet — above-average
    balance AND no recent orders (NOT EXISTS -> LEFT ANTI join), grouped
    by nation (the schema has no phone column, so nationkey plays the
    country-code role). The scalar AVG folds in as a broadcast one-row
    frame (the bigram_pmi totals pattern — one action, no eager collect
    at plan build); the anti-join build side is only the RECENT order
    keys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    recent = orders.where(F.col("o_orderdate") >= "1999-01-01").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg_bal"))
        .drop("__avg_bal")
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal").cast("double"), 2).alias("totacctbal"),
        )
    )


@query("""
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
), b AS (
  SELECT quantile_cont(revenue, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
  FROM rev
)
SELECT 1 + len(list_filter(bs, x -> revenue > x)) AS decile,
       count(*) AS n_customers,
       round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_revenue,
       round(min(revenue), 2) AS min_revenue,
       round(max(revenue), 2) AS max_revenue
FROM rev, b
GROUP BY 1
""")
def customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile revenue stats WITHOUT a global-sort window: NTILE over
    an unpartitioned window would pull every row into one task, so decile
    membership comes from exact percentile boundaries (a tiny aggregate,
    broadcast back) — bucket = 1 + #boundaries strictly below the value.
    This is the 100 TB-safe spelling of "decile analysis"."""
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    qs = [i / 10 for i in range(1, 10)]
    bounds = rev.agg(
        F.percentile(F.col("revenue"), F.array(*[F.lit(q) for q in qs])).alias("bs")
    )
    return (
        rev.join(F.broadcast(bounds))
        .select(
            "revenue",
            (
                F.size(F.filter(F.col("bs"), lambda b: F.col("revenue") > b)) + 1
            ).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double"), 2)
            .alias("total_revenue"),
            F.round(F.min("revenue"), 2).alias("min_revenue"),
            F.round(F.max("revenue"), 2).alias("max_revenue"),
        )
    )


@query("""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (status, priority): all four grouping
    combinations in ONE pass — Spark expands the sets map-side and
    aggregates them in a single shuffle, vs four separate scans."""
    orders = _t(spark, sf_dir, spread=True, name="orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "revenue")
    )


@query("""
WITH cost AS (
  SELECT p_partkey, p_name, l_suppkey,
         round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS supply_cost
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'STANDARD' AND p_size = 15
  GROUP BY 1, 2, 3
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), ranked AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost,
         MIN(supply_cost) OVER (PARTITION BY p_partkey) AS mn
  FROM cost JOIN eu ON l_suppkey = s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
FROM ranked WHERE supply_cost = mn
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — the minimum-cost supplier for each qualifying
    part. partsupp stand-in: supply cost of a (part, supplier) pair :=
    round(sum(extendedprice) / sum(quantity), 2) over that pair's
    lineitems (exact decimal sums, one deterministic double division —
    both engines bit-agree). Parts filtered to STANDARD size 15,
    suppliers to EUROPE; the spec's correlated MIN subquery decorrelates
    to a per-part window min over the cost table (Catalyst would
    nested-loop the naive correlated form).

    Scale shape: the part filter prunes via broadcast semi-join BEFORE
    the (part,supp) agg shuffles, so the cost table is |qualifying
    parts x suppliers|; dims broadcast; the min is a window over the
    part key (balanced — per-part group is |suppliers|); top-100."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    parts = part.where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") == 15)
    ).select("p_partkey", "p_name")
    eu_supp = (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(
            F.round(
                F.sum(_dec(F.col("l_extendedprice"))).cast("double")
                / F.sum(_dec(F.col("l_quantity"))).cast("double"),
                2,
            ).alias("supply_cost")
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        cost.join(eu_supp, cost.l_suppkey == eu_supp.s_suppkey)
        .withColumn("__min", F.min("supply_cost").over(w))
        .where(F.col("supply_cost") == F.col("__min"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "supply_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query("""
SELECT n_name AS nation,
       EXTRACT(year FROM o_orderdate) AS o_year,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.0 - l_discount AS DECIMAL(18,2))
                    - CAST(0.6 * p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE 'red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by supplier nation and
    order year over 'red%' parts. ps_supplycost stand-in: 60% of
    p_retailprice per unit (a deterministic part attribute, the same
    role the spec column plays). profit = extendedprice*(1-discount) -
    0.6*retailprice*quantity, all decimal until the final cast.

    Scale shape: the part filter broadcast-prunes lineitem first; the
    5-way join keys every fact shuffle on its own key (AQE picks
    broadcast for supplier); ONE (nation, year) rollup with map-side
    partials. No window, no skew (25 nations x 7 years out)."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    red = part.where(F.col("p_name").like("red%")).select(
        "p_partkey", "p_retailprice"
    )
    amount = _dec(F.col("l_extendedprice")) * _dec(
        F.lit(1.0) - F.col("l_discount")
    ) - _dec(F.lit(0.6) * F.col("p_retailprice")) * _dec(F.col("l_quantity"))
    return (
        li.join(red, li.l_partkey == red.p_partkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount).cast("double"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query("""
WITH per_part AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY 1
)
SELECT partkey, round(CAST(v AS DOUBLE), 2) AS stock_value
FROM per_part
WHERE CAST(v AS DOUBLE) >
      (SELECT CAST(SUM(v) AS DOUBLE) / COUNT(*) * 2.0 FROM per_part)
ORDER BY stock_value DESC, partkey
""")
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts representing a significant share of one
    nation's supply value. partsupp stand-in: a part's stock value for
    NATION_7 suppliers := sum of discounted extendedprice over their
    lineitems. The spec's scalar subquery (HAVING value > FRACTION *
    total) stays: the global total folds in as a one-row broadcast. The
    spec scales FRACTION by 1/SF so the result stays stable as the
    corpus grows; with no SF knob here the threshold is 2x the MEAN
    per-part share (total / n_parts * 2) — scale-invariant by
    construction (a fixed 0.001 empties out once |parts| > 1000).

    Scale shape: supplier-nation prune broadcasts (|suppliers/nation|
    rows), ONE per-part agg shuffle; the total is a 1-row cross join
    derived from the SAME aggregated frame (re-aggregating |parts|
    rows, not re-scanning lineitem)."""
    li = _t(spark, sf_dir, spread=True, name="lineitem")
    su = _t(spark, sf_dir, spread=True, name="supplier")
    na = _t(spark, sf_dir, spread=True, name="nation")
    n7 = (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .where(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    val = _dec(F.col("l_extendedprice")) * _dec(
        F.lit(1.0) - F.col("l_discount")
    )
    per_part = (
        li.join(n7, li.l_suppkey == n7.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("__v"))
    )
    total = per_part.agg(
        F.sum("__v").alias("__t"), F.count(F.lit(1)).alias("__n")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("__v").cast("double")
            > F.col("__t").cast("double") / F.col("__n") * 2.0
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("__v").cast("double"), 2).alias("stock_value"),
        )
        .orderBy(F.desc("stock_value"), "partkey")
    )


@query("""
SELECT l_returnflag AS flag_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY 1
ORDER BY flag_class
""")
def q12_late_priority_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — shipping-delay audit: for each return-flag
    class (the shipmode stand-in — the corpus has no l_shipmode), count
    1998-shipped lineitems that went out more than 90 days after the
    order date, split into critical-priority (1-URGENT / 2-HIGH) and
    other-priority counts — the spec's conditional two-way aggregation
    over one lineitem⋈orders join with the date predicates pushed to
    the lineitem scan.

    Scale shape: both date filters prune at the scan; one fact-fact
    equi-join on orderkey (AQE); a 3-group rollup. Map-side partials
    absorb everything — the reduce side sees |flags| rows."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01"))
            & (F.col("l_shipdate") < F.lit("1999-01-01"))
        )
        .join(od, li.l_orderkey == od.o_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy(F.col("l_returnflag").alias("flag_class"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("flag_class")
    )


@query("""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — how many suppliers can provide each qualifying
    (brand, type, size) part class. partsupp stand-in: the DISTINCT
    (part, supplier) pairs observed in lineitem. Exclusions keep the
    spec's structure: a brand/type/size filter on part, and a NOT-IN
    subquery excluding flagged suppliers (acctbal < 0 stands in for the
    comment-complaints predicate) compiled as a broadcast anti-join.

    Scale shape: the distinct pair reduction shuffles once on the pair
    key; part joins broadcast after its filter; the supplier exclusion
    is an anti-join against a |flagged suppliers| broadcast; the final
    count-distinct is a (brand,type,size)-keyed agg — bounded groups."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    su = _t(spark, sf_dir, "supplier")
    parts = part.where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    flagged = su.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(parts, F.col("l_partkey") == parts.p_partkey)
        .join(
            flagged,
            F.col("l_suppkey") == flagged.s_suppkey,
            "left_anti",
        )
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query("""
WITH pair AS (
  SELECT l_suppkey,
         SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
                  THEN CAST(l_quantity AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS q1996,
         SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = 1997
                  THEN CAST(l_quantity AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS q1997
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey FROM pair
    WHERE q1997 > 0 AND CAST(q1996 AS DOUBLE) > CAST(q1997 AS DOUBLE) * 0.5
  )
ORDER BY s_name
""")
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — suppliers holding excess stock of 'red%'
    parts, eligible for a promotion push. availqty stand-in: the pair's
    1996 shipped quantity (prior-year volume as the stock proxy); the
    spec predicate becomes q1996 > 0.5 * q1997 with both years active —
    the same nested aggregate-then-compare. Suppliers restricted to
    ASIA, matched via the spec's chain of semi-joins.

    Scale shape: the red-part prune broadcasts before the pair agg; one
    (supp, part) shuffle with both year sums as conditional aggregates
    of ONE pass (no self-join of lineitem); the supplier chain is
    broadcast semi-joins; output bounded by |suppliers|."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    red = part.where(F.col("p_name").like("red%")).select("p_partkey")
    yr = F.year("l_shipdate")
    zero = F.lit(0).cast("decimal(18,2)")
    pair = (
        li.join(red, li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(yr == 1996, _dec(F.col("l_quantity"))).otherwise(zero)
            ).alias("q1996"),
            F.sum(
                F.when(yr == 1997, _dec(F.col("l_quantity"))).otherwise(zero)
            ).alias("q1997"),
        )
        .where(
            (F.col("q1997") > 0)
            & (
                F.col("q1996").cast("double")
                > F.col("q1997").cast("double") * 0.5
            )
        )
        .select("l_suppkey")
        .distinct()
    )
    asia = (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .where(F.col("r_name") == "ASIA")
    )
    return (
        asia.join(pair, asia.s_suppkey == pair.l_suppkey, "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@query("""
WITH joined AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN late THEN l_suppkey END) AS l_suppkey
  FROM joined GROUP BY 1
), waiting AS (
  SELECT l_suppkey, COUNT(*) AS numwait
  FROM per_order
  WHERE n_supp > 1 AND n_late = 1
  GROUP BY 1
)
SELECT s_name, numwait
FROM waiting
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
ORDER BY numwait DESC, s_name
LIMIT 100
""")
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late supplier on a
    finalized multi-supplier order. Late stand-in (no l_receiptdate):
    shipped more than 60 days after the order date. The spec's
    EXISTS / NOT EXISTS pair decorrelates to per-order supplier
    counts — n_supp > 1 (another supplier exists) and n_late == 1 (no
    OTHER late supplier) — computed in ONE pass over the joined facts
    instead of two correlated lineitem re-scans. When n_late == 1 the
    sole late supplier IS max(CASE WHEN late THEN suppkey END), so no
    join-back onto the fact frame is needed at all (the naive
    two-consumer plan re-scans lineitem twice: exchange reuse does not
    fire across the differently-pruned subtrees — measured).

    Scale shape: one lineitem⋈orders equi-join (status filter pushed to
    the orders scan), ONE per-order agg (orderkey keyed — naturally
    balanced) that also carries the sole-late-supplier witness, and a
    |suppliers|-bounded rollup. Nation dim broadcasts. lineitem scans
    ONCE."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    joined = li.join(
        od.where(F.col("o_orderstatus") == "F"),
        li.l_orderkey == od.o_orderkey,
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("__late"),
    )
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp"),
        F.countDistinct(
            F.when(F.col("__late"), F.col("l_suppkey"))
        ).alias("__n_late"),
        F.max(
            F.when(F.col("__late"), F.col("l_suppkey"))
        ).alias("l_suppkey"),
    )
    waiting = (
        per_order.where((F.col("__n_supp") > 1) & (F.col("__n_late") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        waiting.join(su, waiting.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .where(F.col("n_name") == "NATION_5")
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
