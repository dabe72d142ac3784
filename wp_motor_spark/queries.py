"""Headline query suite: every entry pairs a Spark DataFrame builder with an
ANSI-SQL oracle (DuckDB) over the same parquet tables.

Conventions for oracle hash-parity:
- Aggregates over float columns go through DECIMAL(18,2) so both engines
  sum exactly, then cast the result to DOUBLE (deterministic in both).
- Every computed column is aliased identically in Spark and SQL.
- Ratios divide exact ints/decimals as doubles and round(…, 4).
- Session TZ is UTC; DuckDB timestamps are naive → equal wall-clocks.

Queries marked sql=None are engine-specific (xxhash64-based sketches) and
get the driver's rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.conditions import compile_condition
from wp_motor_spark.knowdb import KnowDB
from wp_motor_spark.operators import dedup, similarity, text
from wp_motor_spark.operators.stats import windowed_counts
from wp_motor_spark.session import scoped_persist
from wp_motor_spark.wpl import compile_rule, parse_wpl


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load a base table; ``spread=True`` opts the scan into the
    spread-after-read repartition (sources/tables.py): use it ONLY where
    the scan feeds heavy per-row JVM compute (WPL/regex parse, text HOFs,
    blocked levenshtein) — measured 2-3x wins there, 2-5x LOSSES when the
    consumer is a Python/Arrow stage, a driver-sample loop, or a plain
    aggregation (the exchange then costs more than it buys)."""
    from wp_motor_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name, spread=spread)


def _global_rank(df: DataFrame, order_cols: list, rank_col: str = "rank") -> DataFrame:
    """Exact global row_number over ``order_cols`` WITHOUT a
    single-partition window: repartitionByRange samples the key
    distribution into balanced ordered ranges (skewed keys spread over
    many partitions), each partition ranks locally, and broadcast
    cumulative partition offsets (|partitions| rows, genuinely bounded)
    lift local ranks to global ones. The 100 TB-safe total-order
    pattern shared by snm_candidate_pairs / quality_ensemble_rank.

    ``loc`` is persisted before the offsets frame is derived: the rank
    side and the offsets side are two instantiations of the SAME
    repartitionByRange, and RangePartitioner boundaries come from
    sampling — correctness must not depend on exchange reuse
    (spark.sql.exchange.reuse) deduplicating them. With the persist both
    subtrees read one InMemoryRelation, i.e. one physical partitioning,
    regardless of reuse behavior."""
    loc = scoped_persist(
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lr",
            F.row_number().over(
                Window.partitionBy("__pid").orderBy(*order_cols)
            ),
        )
    )
    offsets = (
        loc.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__off")
    )
    return (
        loc.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.col("__lr") + F.col("__off"))
        .drop("__pid", "__lr", "__off", "__cnt")
    )


def _global_rank_cumsum(
    df: DataFrame, order_cols: list, value_col: str,
    rank_col: str = "rank", cum_col: str = "__cum",
) -> DataFrame:
    """Fused _global_rank + _global_cumsum over the SAME total order: one
    repartitionByRange, one persist, one offsets frame carrying BOTH the
    cumulative row-count and the cumulative value total per range
    partition (r16 optimization: abc_analysis paid two full range
    exchanges + two persists for the rank pass and the prefix-sum pass;
    the orders are identical, so both lift from one partitioning).
    Values are exactly those of the two-pass composition."""
    dtype = dict(df.dtypes)[value_col]
    w_part = Window.partitionBy("__pid").orderBy(*order_cols)
    loc = scoped_persist(
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(w_part))
        .withColumn(
            "__lc",
            F.sum(value_col).over(
                w_part.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        loc.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.sum(value_col).alias("__pt"))
        .withColumn("__roff", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .withColumn(
            "__voff",
            F.coalesce(F.sum("__pt").over(w_off), F.lit(0).cast(dtype)),
        )
        .select("__pid", "__roff", "__voff")
    )
    return (
        loc.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.col("__lr") + F.col("__roff"))
        .withColumn(cum_col, F.col("__lc") + F.col("__voff"))
        .drop("__pid", "__lr", "__lc", "__roff", "__voff")
    )


def _dec(col, scale: int = 2):
    return col.cast(f"decimal(18,{scale})")


# --------------------------------------------------------------------------
# Relational core (the SQL surface a reference user gets by moving to Spark)
# --------------------------------------------------------------------------


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


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) * CAST(1.0 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


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


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) > 100000
"""


def enrich_customer_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KnowDB-style enrichment: customer -> nation -> region broadcast
    joins (SURVEY.md §2.8), aggregated per region."""
    kdb = KnowDB(spark)
    kdb.register("nation", _t(spark, sf_dir, "nation"))
    kdb.register("region", _t(spark, sf_dir, "region"))
    cust = _t(spark, sf_dir, "customer")
    enriched = kdb.enrich(cust, "nation", on={"n_nationkey": "c_nationkey"})
    enriched = kdb.enrich(enriched, "region", on={"r_regionkey": "n_regionkey"})
    return enriched.groupBy(F.col("r_name").alias("region")).agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("total_acctbal"),
    )


ENRICH_SQL = """
SELECT r_name AS region, COUNT(*) AS customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY r_name
"""


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


SUPPLIER_PART_SQL = """
SELECT p_brand AS brand, n_name AS supp_nation,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS line_count
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY p_brand, n_name
"""


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


Q10_SQL = """
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
"""


def orders_with_big_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: orders having at least one high-quantity line item."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


SEMI_JOIN_SQL = """
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
"""


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream (30-minute
    inactivity boundary) — lag window + cumulative session ids."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microsecond gap math — events carry sub-second ts, and
    # second-truncating here would sessionize differently from the oracle
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("sess_no", F.sum(new_sess).over(w))
    return sess.groupBy("user_id", "sess_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_trunc("second", F.min("ts")).alias("session_start"),
        F.date_trunc("second", F.max("ts")).alias("session_end"),
    )


SESSIONS_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
  FROM marked
)
SELECT user_id, sess_no, COUNT(*) AS n_events,
       date_trunc('second', MIN(ts)) AS session_start,
       date_trunc('second', MAX(ts)) AS session_end
FROM numbered
GROUP BY user_id, sess_no
"""


def events_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alerting over windowed stats (src/stat/alert_system.rs)."""
    from wp_motor_spark.operators.stats import alert

    stats = events_window_stats(spark, sf_dir)
    return alert(stats, "total", 5, ">=").select(
        "window_start", "event_type", "total", "alert"
    )


ALERTS_SQL = """
WITH stats AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS total
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, total,
       'total >= 5: ' || CAST(total AS VARCHAR) AS alert
FROM stats WHERE total >= 5
"""


# --------------------------------------------------------------------------
# Engine-surface queries (WPL / routing / enrichment / stats re-expressed)
# --------------------------------------------------------------------------

_CLF_RULE = """
rule clf {
  (ip:sip,2*_,time/clf:recv_time<[,]>,http/request",http/status:status,digit:bytes)
}
"""


def wpl_parse_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WPL end-to-end under the oracle: synthesize CLF lines from `events`,
    parse with the compiled rule, return typed fields.

    The oracle derives the same fields relationally — equality proves the
    regex extraction + typed casts round-trip."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    line = F.format_string(
        '10.0.%d.%d - - [%s] "GET /e/%d HTTP/1.1" %d %d',
        F.floor(F.col("user_id") / 256).cast("int"),
        F.col("user_id") % 256,
        F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss +0000"),
        F.col("event_id"),
        F.when(F.col("event_type") == "error", 500).otherwise(200),
        F.round(F.col("value") * 100).cast("long"),
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    cr = compile_rule(parse_wpl(_CLF_RULE)[0])
    parsed = cr.extract(lines, keep=["event_id"])
    return parsed.where(F.col("_disposition") == "success").select(
        "event_id",
        "sip",
        "recv_time",
        F.col("http_request").getField("uri").alias("uri"),
        "status",
        "bytes",
    )


WPL_CLF_SQL = """
SELECT event_id,
       '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS sip,
       date_trunc('second', ts) AS recv_time,
       '/e/' || CAST(event_id AS VARCHAR) AS uri,
       CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS BIGINT) AS status,
       CAST(round(value * 100) AS BIGINT) AS bytes
FROM events
"""


_CLF_OML = """
name : clf
rule : clf
---
event_id : digit = read(event_id);
sip = read(sip);
ts : digit = pipe read(recv_time) | Time::to_ts_zone(0, s);
uri = pipe read(http_request) | get(uri);
status : digit = read(status);
size_class = match read(bytes) {
    in (digit(0), digit(499)) => chars(small);
    _ => chars(large);
};
host = read(sip) { _ : chars(unknown) };
"""


def wpl_oml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path under the oracle: WPL parse -> OML transform
    (typed reads, pipe fns, struct get, match range, default clause)."""
    from wp_motor_spark.oml.compiler import compile_oml

    ev = _t(spark, sf_dir, spread=True, name="events")
    line = F.format_string(
        '10.0.%d.%d - - [%s] "GET /e/%d HTTP/1.1" %d %d',
        F.floor(F.col("user_id") / 256).cast("int"),
        F.col("user_id") % 256,
        F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss +0000"),
        F.col("event_id"),
        F.when(F.col("event_type") == "error", 500).otherwise(200),
        F.round(F.col("value") * 100).cast("long"),
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    cr = compile_rule(parse_wpl(_CLF_RULE)[0])
    parsed = cr.extract(lines, keep=["event_id"]).where(
        F.col("_disposition") == "success"
    )
    model = compile_oml(_CLF_OML)
    return model.apply(parsed.drop("value", "_rule", "_disposition", "_residue"))


WPL_OML_SQL = """
SELECT event_id,
       '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS sip,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts,
       '/e/' || CAST(event_id AS VARCHAR) AS uri,
       CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS BIGINT) AS status,
       CASE WHEN CAST(round(value * 100) AS BIGINT) BETWEEN 0 AND 499 THEN 'small' ELSE 'large' END AS size_class,
       '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS host
FROM events
"""


def sink_route_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-condition routing (§2.6): the expression language compiled to a
    pushed-down filter."""
    ev = _t(spark, sf_dir, "events")
    cond = compile_condition('value >= 5.0 && event_type != "error" || event_type =* "log*"')
    return ev.where(cond).select("event_id", "event_type", "value")


SINK_ROUTE_SQL = """
SELECT event_id, event_type, value
FROM events
WHERE (value >= 5.0 AND event_type <> 'error') OR event_type LIKE 'log%'
"""


def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WPL json()/OML get() analog: project a key out of a JSON column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").try_cast("long").alias("k_num"),
    )


JSON_PROPS_SQL = """
SELECT event_id,
       props ->> '$.k' AS k_str,
       TRY_CAST(props ->> '$.k' AS BIGINT) AS k_num
FROM events
"""


def events_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference stats subsystem (§2.9): tumbling window x dimension
    counters with total/success/suc_rate/speed measures."""
    ev = _t(spark, sf_dir, "events")
    return windowed_counts(
        ev,
        ts_col="ts",
        dims=["event_type"],
        window_sec=3600,
        top_n=None,
        success_pred=F.col("value") > 5.0,
    )


WINDOW_STATS_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS total,
       COUNT(*) FILTER (WHERE value > 5.0) AS success,
       ROUND(CAST(COUNT(*) FILTER (WHERE value > 5.0) AS DOUBLE) / COUNT(*) * 100, 4) AS suc_rate,
       ROUND(CAST(COUNT(*) AS DOUBLE) / 3600, 4) AS speed
FROM events
GROUP BY 1, 2, 3
"""


def top_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked top-N per dimension (stats top_n cap, model/dimension.rs)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    return counts.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)


TOP_USERS_SQL = """
SELECT event_type, user_id, n, rank FROM (
  SELECT event_type, user_id, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY COUNT(*) DESC, user_id) AS rank
  FROM events GROUP BY event_type, user_id
) WHERE rank <= 5
"""


def enrich_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KnowDB ip4_between range-band lookup as a broadcast range join."""
    ev = _t(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        F.format_string(
            "10.0.%d.%d", F.floor(F.col("user_id") / 256).cast("int"), F.col("user_id") % 256
        ).alias("ip"),
    )
    bands = spark.createDataFrame(
        [
            ("10.0.0.0", "10.0.0.255", "zone-a"),
            ("10.0.1.0", "10.0.1.255", "zone-b"),
            ("10.0.2.0", "10.0.3.255", "zone-c"),
        ],
        ["lo", "hi", "zone"],
    )
    kdb = KnowDB(spark).register("ip_bands", bands)
    out = kdb.enrich_ip_range(fact, "ip_bands", ip_col="ip", select=["zone"])
    return out.select("event_id", "ip", "zone")


IP_RANGE_SQL = """
WITH bands(lo, hi, zone) AS (
  VALUES ('10.0.0.0', '10.0.0.255', 'zone-a'),
         ('10.0.1.0', '10.0.1.255', 'zone-b'),
         ('10.0.2.0', '10.0.3.255', 'zone-c')
),
fact AS (
  SELECT event_id,
         '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS ip,
         CAST(floor(user_id / 256) AS BIGINT) * 256 + user_id % 256 AS ip_low
  FROM events
)
SELECT event_id, ip, zone
FROM fact
LEFT JOIN bands
  ON 167772160 + ip_low >= 167772160 + CAST(string_split(lo, '.')[3] AS BIGINT) * 256 + CAST(string_split(lo, '.')[4] AS BIGINT)
 AND 167772160 + ip_low <= 167772160 + CAST(string_split(hi, '.')[3] AS BIGINT) * 256 + CAST(string_split(hi, '.')[4] AS BIGINT)
"""


# --------------------------------------------------------------------------
# Training-data pipeline operators
# --------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id", "lang", "source", "n_chars")


DEDUP_EXACT_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id IN (
  SELECT MIN(doc_id) FROM documents
  GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
)
"""


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


NGRAM_JACCARD_SQL = """
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), words AS (
  SELECT id, string_split(t, ' ') AS w, t FROM norm
), sh AS (
  SELECT id, list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
         ELSE [t] END) AS grams
  FROM words
), sizes AS (
  SELECT id, len(grams) AS n FROM sh
), inv AS (
  SELECT id, unnest(grams) AS g FROM sh
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
"""


def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (xxhash64 signatures — engine-specific, so the
    driver runs the rows-only check; ngram_jaccard_dups is the exact-oracle
    twin of this operator)."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (engine-specific hash -> rows-only check)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=3)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality heuristics, SQL-mirrored."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    return docs.select(
        "doc_id",
        text.token_count_ws(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        F.round(text.mean_word_length(F.col("text")), 4).alias("mean_word_len"),
        F.round(text.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
    )


TEXT_STATS_SQL = """
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       length(text) AS n_chars_calc,
       ROUND(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS mean_word_len,
       ROUND(CAST(len(list_filter(toks, w -> w IN ('the','of','and','to','in','is','was','for','on','that','with','as','are','at','this'))) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS stopword_ratio
FROM t
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID + punctuation ratio, SQL-mirrored."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    return docs.select(
        "doc_id",
        text.detect_language(F.col("text")).alias("lang_detected"),
        F.round(text.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
    )


def _lang_sql_score(lang: str, words: list[str]) -> str:
    inlist = ",".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter(toks, w -> w IN ({inlist}))) AS DOUBLE)"
        " / greatest(len(toks), 1)"
    )


def _language_id_sql() -> str:
    from wp_motor_spark.operators.text import _PROFILES

    struct_rows = ", ".join(
        "{'score': %s, 'lang': '%s'}" % (_lang_sql_score(lang, words), lang)
        for lang, words in _PROFILES.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, text, list_max([{struct_rows}]) AS best
  FROM t
)
SELECT doc_id,
       CASE WHEN best.score >= 0.08 THEN best.lang ELSE 'und' END AS lang_detected,
       ROUND(CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 4) AS punct_ratio
FROM scored
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting, SQL-mirrored."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    return docs.select(
        "doc_id",
        text.token_count_ws(F.col("text")).alias("n_ws"),
        text.token_count_bpe(F.col("text")).alias("n_bpe"),
    )


TOKEN_COUNTS_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_ws,
       CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
         CAST(list_sum(list_transform(toks, w ->
           CAST(ceil(length(regexp_replace(w, '[^\p{L}\p{N}]', '', 'g')) / 4.0) AS INT)
           + length(regexp_replace(w, '[\p{L}\p{N}]', '', 'g')))) AS BIGINT)
       END AS n_bpe
FROM t
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic, SQL-mirrored (same closed formula as
    operators/text.py quality_score: length, punctuation, word-length and
    stopword components multiplied)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


def _quality_scores_sql() -> str:
    from wp_motor_spark.operators.text import _PROFILES

    stopwords = ",".join(f"'{w}'" for w in _PROFILES["en"])
    return f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE)
           / greatest(len(toks), 1) AS wl,
         CAST(len(list_filter(toks, w -> w IN ({stopwords}))) AS DOUBLE)
           / greatest(len(toks), 1) AS sw
  FROM t
)
SELECT doc_id,
       ROUND(least(n_tok / 20.0, 1.0)
             * (CASE WHEN n_tok > 1000 THEN 0.5 ELSE 1.0 END)
             * (CASE WHEN punct_ratio > 0.2 THEN 0.5 ELSE 1.0 END)
             * (CASE WHEN wl >= 3 AND wl <= 10 THEN 1.0 ELSE 0.6 END)
             * (CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END), 4) AS quality
FROM m
"""


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN (approximate -> rows-only; exact twin: cosine_topk;
    recall@5 gate vs cosine_topk in tests/test_quality.py). n_probe=8 of 16
    cells: the synthetic embeddings have no cluster structure (uniform
    directions), the worst case for IVF — real embedding corpora cluster,
    so fewer probes reach the same recall there."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = similarity.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=8)
    return out.select("query_id", "neighbor_id", "rank")


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the driver contract: text bytes as an
    opaque media column -> metadata struct -> mapInPandas feature pass
    (stub decode; deterministic sha-derived pixels). Rows-only check."""
    from wp_motor_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("media"))
    media = mm.attach_meta(media, kind="image", mime="application/octet-stream")
    feats = mm.image_features(media)
    return feats.select(
        "doc_id", F.round(F.try_element_at("features", F.lit(1)), 4).alias("f0")
    )


def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the driver contract: deterministic 16x12
    BMP images are synthesized per doc (pure-Python encoder), then probed
    and feature-extracted through the actual decode path (imagecodec.py
    — no stub involved for BMP). Rows-only check; pixel-level parity
    gates live in tests/test_imagecodec.py and tests/test_quality.py."""
    import pandas as pd

    from wp_motor_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)

    def gen(batches):
        import numpy as np

        from wp_motor_spark.operators import imagecodec as ic

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                rng = np.random.RandomState(int(did) % (2**31))
                arr = rng.randint(0, 256, size=(12, 16, 3), dtype=np.uint8)
                out.append((int(did), ic.encode_bmp(arr)))
            yield pd.DataFrame(out, columns=["doc_id", "media"])

    media = mm.attach_meta(
        docs.select("doc_id").mapInPandas(gen, schema="doc_id long, media binary"),
        kind="image",
        mime="image/bmp",
    )
    probed = mm.probe_images(media)
    feats = mm.image_features(probed)
    dims = probed.select(
        "doc_id",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )
    return dims.join(feats, "doc_id").select(
        "doc_id",
        "width",
        "height",
        F.round(F.try_element_at("features", F.lit(1)), 4).alias("f0"),
    )


def image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection: deterministic BMPs per doc where every
    10th doc is a brightness-shifted copy of its predecessor; pHash
    (real decode -> 32x32 DCT fingerprint) + the pigeonhole block join
    finds exactly those planted pairs. Rows-only; pixel-level parity and
    invariance gates in tests/test_imagecodec.py; exact pair-set parity
    in tests/test_quality.py."""
    import pandas as pd

    from wp_motor_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)

    def gen(batches):
        import numpy as np

        from wp_motor_spark.operators import imagecodec as ic

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                # every 10th doc replicates the previous doc's image,
                # brightness-shifted: a planted near-dup pair
                seed = did - 1 if did % 10 == 0 else did
                rng = np.random.RandomState(seed % (2**31))
                arr = rng.randint(0, 240, size=(6, 8, 3)).repeat(5, axis=0).repeat(
                    4, axis=1
                )
                if did % 10 == 0:
                    arr = arr + 10
                out.append((did, ic.encode_bmp(arr.astype(np.uint8))))
            yield pd.DataFrame(out, columns=["doc_id", "media"])

    media = docs.select("doc_id").mapInPandas(gen, schema="doc_id long, media binary")
    pairs = mm.image_neardup_pairs(media, max_hamming=7)
    return pairs.orderBy("id_a", "id_b")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint via sha256 of normalized text (oracle-exact)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", dedup.content_digest(F.col("text")).alias("digest"))


FINGERPRINT_SQL = """
SELECT doc_id, sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
FROM documents
"""


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (ANN baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", "rank")


COSINE_TOPK_SQL = """
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id
         ) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
) WHERE rank <= 5
"""


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, spread=True, name="embeddings")
    out = dedup.embedding_neardup_pairs(emb, threshold=0.4)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


# CAST(... AS DOUBLE[]): DuckDB computes list_cosine_similarity on FLOAT[]
# in float32; Spark computes in double — cast so both use float64 math.
EMB_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    """Embedding dimensionality, probed once per (session, sf_dir) — the
    array<float> schema doesn't carry a length, so one single-row job is
    unavoidable; the cache keeps it off every subsequent query."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _EMB_DIM_CACHE:
        emb = _t(spark, sf_dir, "embeddings")
        _EMB_DIM_CACHE[key] = emb.select(F.size("embedding").alias("d")).first()["d"]
    return _EMB_DIM_CACHE[key]


_EMB_DIM_CACHE: dict = {}


def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH ANN (approximate -> rows-only check; recall@5
    gate vs cosine_topk in tests/test_quality.py)."""
    emb = _t(spark, sf_dir, spread=True, name="embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    dim = _emb_dim(spark, sf_dir)
    out = similarity.lsh_topk(
        emb, queries, dim=dim, k=5, planes=32, bands=8, probe_bits=1
    )
    return out.select("query_id", "neighbor_id", "rank")


def wpl_auto_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `auto` typed cascade under the oracle (factory.rs:28-39 order
    Json->Time->IP->KV->Float->Digit->Hex->Chars).

    Synthesizes one token per `events` row cycling through the cascade's
    branches, parses "<event_id> <token>" with a `(digit:eid,auto:val)`
    rule, and projects the winning tag plus per-type variant extractions.
    The oracle derives tag and values relationally from the same columns —
    equality proves detection order AND typed values. Note event_id%8==5
    emits a bare integer and asserts tag=float, NOT digit: the reference's
    Float parser (winnow `float`) accepts integer forms and precedes
    Digit, so integers classify float there and here."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    u = F.col("user_id")
    m = F.col("event_id") % 8
    token = (
        F.when(m == 0, F.format_string('{"id":%d}', F.col("event_id")))
        .when(m == 1, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .when(
            m == 2,
            F.format_string(
                "10.0.%d.%d", F.floor(u / 256).cast("int"), (u % 256).cast("int")
            ),
        )
        .when(m == 3, F.format_string("user=%d", u))
        .when(
            m == 4,
            F.concat(F.round(F.col("value") * 100).cast("long").cast("string"), F.lit(".5")),
        )
        .when(m == 5, F.round(F.col("value") * 100).cast("long").cast("string"))
        .when(m == 6, F.concat(F.lit("0x"), F.lower(F.hex(u))))
        .otherwise(F.format_string("evt-%s-%d", F.col("event_type"), u))
    )
    lines = ev.select(
        F.col("event_id"),
        F.format_string("%d %s", F.col("event_id"), token).alias("value"),
    )
    cr = compile_rule(parse_wpl("rule auto_t { (digit:eid,auto:val) }")[0])
    parsed = cr.extract(lines, keep=["event_id"])
    v = F.col("val.v")
    t = F.col("val.t")
    return parsed.where(F.col("_disposition") == "success").select(
        "event_id",
        t.alias("tag"),
        F.when(
            t.isin("float", "digit", "hex"),
            F.try_variant_get(v, "$", "double"),
        ).alias("v_num"),
        F.when(t == "time", F.try_variant_get(v, "$", "timestamp")).alias("v_ts"),
        F.when(t.isin("ip", "chars"), F.try_variant_get(v, "$", "string")).alias(
            "v_str"
        ),
        F.when(t.isin("json", "kv"), F.to_json(v)).alias("v_json"),
    )


WPL_AUTO_SQL = """
SELECT event_id,
       CASE event_id % 8
           WHEN 0 THEN 'json' WHEN 1 THEN 'time' WHEN 2 THEN 'ip'
           WHEN 3 THEN 'kv' WHEN 4 THEN 'float' WHEN 5 THEN 'float'
           WHEN 6 THEN 'hex' ELSE 'chars' END AS tag,
       CASE WHEN event_id % 8 = 4 THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) || '.5'
            WHEN event_id % 8 = 5 THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
            WHEN event_id % 8 = 6 THEN CAST(user_id AS VARCHAR)
            END :: DOUBLE AS v_num,
       CASE WHEN event_id % 8 = 1 THEN date_trunc('second', ts) END AS v_ts,
       CASE WHEN event_id % 8 = 2
                THEN '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR)
                     || '.' || CAST(user_id % 256 AS VARCHAR)
            WHEN event_id % 8 = 7
                THEN 'evt-' || event_type || '-' || CAST(user_id AS VARCHAR)
            END AS v_str,
       CASE WHEN event_id % 8 = 0 THEN '{"id":' || CAST(event_id AS VARCHAR) || '}'
            WHEN event_id % 8 = 3 THEN '{"user":"' || CAST(user_id AS VARCHAR) || '"}'
            END AS v_json
FROM events
"""


# --------------------------------------------------------------------------
# WPL construct coverage under the oracle (round 4): kv container subfields,
# the time-format family, base64 decode-then-subparse — each synthesizes
# deterministic lines from `events` and proves the parse round-trips by
# deriving the same fields relationally in DuckDB.
# --------------------------------------------------------------------------


def wpl_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kvarr container + typed subfield refs (kv.rs/kvarr parsing,
    subfield extraction compiler.py `kvarr` branch): k=v pairs to a map,
    then digit/chars/float-typed pulls out of it."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    line = F.format_string(
        "user=%d type=%s val=%d.5",
        F.col("user_id"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long"),
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    cr = compile_rule(
        parse_wpl(
            "rule kvq { (kvarr(digit@user:uid,chars@type:etype,float@val:val):m) }"
        )[0]
    )
    parsed = cr.extract(lines, keep=["event_id"])
    return parsed.where(F.col("_disposition") == "success").select(
        "event_id", "uid", "etype", "val"
    )


WPL_KV_SQL = """
SELECT event_id,
       user_id AS uid,
       event_type AS etype,
       (CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) || '.5') :: DOUBLE AS val
FROM events
"""


def wpl_time_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time parser family on one line: ISO-8601 (T/Z form), RFC 3339
    with numeric offset, and raw epoch micros (physical/time/ parsers;
    the length-sniffed s/ms/us branch of time/timestamp)."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    line = F.format_string(
        "%d %s %s %d",
        F.col("event_id"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ssXXX"),
        F.unix_micros("ts"),
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    cr = compile_rule(
        parse_wpl(
            "rule tq { (digit:eid,time_iso:t_iso,time/rfc3339:t_3339,"
            "time/timestamp:t_us) }"
        )[0]
    )
    parsed = cr.extract(lines, keep=["event_id"])
    return parsed.where(F.col("_disposition") == "success").select(
        "event_id", "t_iso", "t_3339", "t_us"
    )


WPL_TIME_SQL = """
SELECT event_id,
       date_trunc('second', ts) AS t_iso,
       date_trunc('second', ts) AS t_3339,
       ts AS t_us
FROM events
"""


def wpl_base64_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level base64 decode-then-subparse (`base64 | (group)` —
    wpl_preprocessor.rs decode + nested rule): the captured token is
    decoded, then the subgroup's parsers run over the plaintext."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    payload = F.format_string("%d %s", F.col("user_id"), F.col("event_type"))
    line = F.format_string(
        "%d %s", F.col("event_id"), F.base64(F.encode(payload, "UTF-8"))
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    cr = compile_rule(
        parse_wpl("rule b64q { (digit:eid,base64:b | (digit:uid,chars:et)) }")[0]
    )
    parsed = cr.extract(lines, keep=["event_id"])
    return parsed.where(F.col("_disposition") == "success").select(
        "event_id", "uid", "et"
    )


WPL_B64_SQL = """
SELECT event_id, user_id AS uid, event_type AS et
FROM events
"""


_SCALAR_OML = """
name : sf
rule : o
---
eid : digit = read(eid);
host = pipe read(u) | url(host);
upath = pipe read(u) | url(path);
uquery = pipe read(u) | url(params);
fname = pipe read(u) | url(path) | path(name);
ip_num : digit = pipe read(sip) | ip4_to_int();
etype = pipe read(b64) | base64_decode();
tag = fmt("{a}|{b}", read(eid), read(eid));
"""


def oml_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OML scalar-function surface under the oracle: url()/path() parts,
    ip4_to_int, base64_decode, fmt interpolation, chained pipes
    (path_url.rs, net.rs, base64.rs, fmt.rs). The oracle derives every
    output relationally from the columns the line was synthesized from."""
    from wp_motor_spark.oml.compiler import compile_oml

    ev = _t(spark, sf_dir, spread=True, name="events")
    u = F.col("user_id")
    line = F.format_string(
        "%d http://h%d.example.com/a/b%d?k=%s 10.0.%d.%d %s",
        F.col("event_id"),
        u,
        u,
        F.col("event_type"),
        F.floor(u / 256).cast("int"),
        (u % 256).cast("int"),
        F.base64(F.encode(F.col("event_type"), "UTF-8")),
    )
    lines = ev.select(line.alias("value"))
    cr = compile_rule(parse_wpl("rule o { (digit:eid,url:u,ip:sip,chars:b64) }")[0])
    om = compile_oml(_SCALAR_OML)
    parsed = cr.extract(lines)
    out = om.apply(
        parsed.where(F.col("_disposition") == "success").drop(
            "value", "_rule", "_disposition", "_residue"
        )
    )
    return out.select(
        "eid", "host", "upath", "uquery", "fname", "ip_num", "etype", "tag"
    )


OML_SCALAR_SQL = """
SELECT event_id AS eid,
       'h' || CAST(user_id AS VARCHAR) || '.example.com' AS host,
       '/a/b' || CAST(user_id AS VARCHAR) AS upath,
       'k=' || event_type AS uquery,
       'b' || CAST(user_id AS VARCHAR) AS fname,
       10 * 16777216 + CAST(floor(user_id / 256) AS BIGINT) * 256 + user_id % 256 AS ip_num,
       event_type AS etype,
       CAST(event_id AS VARCHAR) || '|' || CAST(event_id AS VARCHAR) AS tag
FROM events
"""


_MATCH_OML = """
name : mf
rule : m
---
eid : digit = read(eid);
kind = match read(et) {
    chars(click) => chars(c);
    !regex_match('w$') => chars(nw);
    _ => chars(w);
};
grp = match read(et) {
    chars(view)|chars(click) => chars(ui);
    starts_with(sig) => chars(s);
    _ => chars(rest);
};
pair = match (read(et), read(code)) {
    (chars(error), digit(500)) => chars(err500);
    _ => chars(na);
};
"""


def oml_match_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OML match-arm forms under the oracle: literal equality, negated
    regex guard, alternation, starts_with guard, multi-source tuple
    match, and the `_` default (match.rs arm forms). First-match-wins arm
    order is part of what the oracle pins (a 'click' row must take the
    literal arm, never the later alternation)."""
    from wp_motor_spark.oml.compiler import compile_oml

    ev = _t(spark, sf_dir, spread=True, name="events")
    line = F.format_string(
        "%d %s %d",
        F.col("event_id"),
        F.col("event_type"),
        F.when(F.col("event_type") == "error", 500).otherwise(200),
    )
    lines = ev.select(line.alias("value"))
    cr = compile_rule(parse_wpl("rule m { (digit:eid,chars:et,digit:code) }")[0])
    om = compile_oml(_MATCH_OML)
    parsed = cr.extract(lines)
    out = om.apply(
        parsed.where(F.col("_disposition") == "success").drop(
            "value", "_rule", "_disposition", "_residue"
        )
    )
    return out.select("eid", "kind", "grp", "pair")


OML_MATCH_SQL = """
SELECT event_id AS eid,
       CASE WHEN event_type = 'click' THEN 'c'
            WHEN NOT regexp_matches(event_type, 'w$') THEN 'nw'
            ELSE 'w' END AS kind,
       CASE WHEN event_type IN ('view', 'click') THEN 'ui'
            WHEN event_type LIKE 'sig%' THEN 's'
            ELSE 'rest' END AS grp,
       CASE WHEN event_type = 'error' THEN 'err500' ELSE 'na' END AS pair
FROM events
"""


def wpl_multirule_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match-wins multi-rule cascade (§2.4, parser.rs:26-114) under
    the oracle: events synthesize two line formats — access-style
    "A <eid> <ip> <status>" and audit-style "B <eid> <user>=<id>" — and a
    two-rule MultiParser labels + types each row. The oracle derives
    _rule and the per-format fields relationally from event_id parity,
    proving dispatch picks the right rule for every row AND that a format
    matched by NEITHER rule (event_type='error' lines carry a mangled
    prefix) routes to miss and is excluded."""
    from wp_motor_spark.wpl import MultiParser

    ev = _t(spark, sf_dir, spread=True, name="events")
    u = F.col("user_id")
    is_b = F.col("event_id") % 2 == 1
    line = (
        F.when(
            F.col("event_type") == "error",
            F.format_string("X %d mangled", F.col("event_id")),
        )
        .when(
            is_b,
            F.format_string("B %d user=%d", F.col("event_id"), u),
        )
        .otherwise(
            F.format_string(
                "A %d 10.0.%d.%d %d",
                F.col("event_id"),
                F.floor(u / 256).cast("int"),
                (u % 256).cast("int"),
                F.when(F.col("value") > 250, 500).otherwise(200),
            )
        )
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    mp = MultiParser(
        "rule acc { (symbol(A ),digit:eid,ip:sip,http/status:status) }\n"
        "rule aud { (symbol(B ),digit:eid,kvarr(digit@user:uid):m) }"
    )
    labeled = mp.label(lines)
    return labeled.where(F.col("_disposition") == "success").select(
        "event_id",
        F.col("_rule").alias("rule"),
    )


WPL_MULTIRULE_SQL = """
SELECT event_id,
       CASE WHEN event_id % 2 = 1 THEN 'aud' ELSE 'acc' END AS rule
FROM events
WHERE event_type != 'error'
"""


def wpl_net_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The network/scalar field-parser family on one line: domain, email,
    url, ip_net (CIDR), mobile_phone (CN 1[3-9]xxxxxxxxx), hex, bool
    (network/{domain,email,url}.rs, physical/{ip_net,mobile,hex,bool}).
    The oracle reconstructs each token relationally; a successful parse +
    typed cast round-trip proves both the token regexes and the casts."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    u = F.col("user_id")
    line = F.format_string(
        "%d www.ex%d.com u%d@ex.com http://ex.com/p%d 10.0.%d.0/24 138%08d %x %s",
        F.col("event_id"),
        u,
        u,
        u,
        u % 256,
        u % 100000000,
        u + 1,
        F.when(F.col("event_id") % 2 == 0, "true").otherwise("false"),
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    cr = compile_rule(
        parse_wpl(
            "rule nt { (digit:eid,domain:dom,email:em,url:u,ip_net:net,"
            "mobile_phone:mp,hex:hx,bool:b) }"
        )[0]
    )
    parsed = cr.extract(lines, keep=["event_id"])
    return parsed.where(F.col("_disposition") == "success").select(
        "event_id", "dom", "em", "u", "net", "mp", "hx", "b"
    )


WPL_NET_SQL = """
SELECT event_id,
       'www.ex' || CAST(user_id AS VARCHAR) || '.com' AS dom,
       'u' || CAST(user_id AS VARCHAR) || '@ex.com' AS em,
       'http://ex.com/p' || CAST(user_id AS VARCHAR) AS u,
       '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.0/24' AS net,
       '138' || lpad(CAST(user_id % 100000000 AS VARCHAR), 8, '0') AS mp,
       lower(to_hex(user_id + 1)) AS hx,
       event_id % 2 = 0 AS b
FROM events
"""


def wpl_miss_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deepest-failure miss diagnostics (§2.4, parser.rs:82-113) under the
    oracle: four synthesized shapes — a full match (excluded), a rule-A
    line broken at the ip field (depth 2), one broken at the trailing
    digit (depth 3), and a rule-B line truncated before its chars field
    (depth 2, best rule B) — every fifth line is garbage matching no rule
    (depth 0, no best rule). The oracle derives (_best_rule, _parse_depth)
    from the shape selector."""
    from wp_motor_spark.wpl import MultiParser

    ev = _t(spark, sf_dir, spread=True, name="events")
    m = F.col("event_id") % 5
    line = (
        F.when(m == 0, F.format_string("A %d 10.0.0.1 7", F.col("event_id")))
        .when(m == 1, F.format_string("A %d xip 7", F.col("event_id")))
        .when(m == 2, F.format_string("A %d 10.0.0.1 zz", F.col("event_id")))
        .when(m == 3, F.format_string("B %d", F.col("event_id")))
        .otherwise(F.format_string("Q %d garbage", F.col("event_id")))
    )
    lines = ev.select(F.col("event_id"), line.alias("value"))
    mp = MultiParser(
        "rule a { (symbol(A ),digit:n,ip:sip,digit:code) }\n"
        "rule b { (symbol(B ),digit:n,chars:w) }"
    )
    out = mp.diagnose(lines)
    return out.where(F.col("_disposition") == "miss").select(
        "event_id",
        F.col("_best_rule").alias("best_rule"),
        F.col("_parse_depth").alias("parse_depth"),
    )


WPL_DIAG_SQL = """
SELECT event_id,
       CASE event_id % 5 WHEN 1 THEN 'a' WHEN 2 THEN 'a' WHEN 3 THEN 'b'
            ELSE NULL END AS best_rule,
       CASE event_id % 5 WHEN 1 THEN 2 WHEN 2 THEN 3 WHEN 3 THEN 2
            ELSE 0 END AS parse_depth
FROM events
WHERE event_id % 5 != 0
"""


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


Q5_SQL = """
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
"""


def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on a business key (batch analog of the streaming
    dropDuplicates state op, streaming/state.py): earliest event per
    (user_id, event_type), deterministic tie-break on event_id."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


DEDUP_FIRST_SQL = """
SELECT user_id, event_type,
       event_id AS first_event_id,
       ts AS first_ts
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id
    ) AS rn
    FROM events
) t WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Curation pipeline (round 4): pairs -> clusters -> canonical docs, and
# budgeted / stratified corpus selection. All SQL-expressible (the cluster
# oracle is a recursive CTE), so each gets a value-level driver check.
# --------------------------------------------------------------------------


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs collapsed to clusters: A~B, B~C must yield ONE
    canonical doc. Exact n-gram Jaccard pairs (the SQL-expressible pair
    source) -> min-label connected components -> (doc_id, cluster_id,
    is_canonical)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    comp = dedup.connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("comp") == F.col("id")).alias("is_canonical"),
    )


DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE norm AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), words AS (
  SELECT id, string_split(t, ' ') AS w, t FROM norm
), sh AS (
  SELECT id, list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
         ELSE [t] END) AS grams
  FROM words
), sizes AS (
  SELECT id, len(grams) AS n FROM sh
), inv AS (
  SELECT id, unnest(grams) AS g FROM sh
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id,
       least(u, min(v)) AS cluster_id,
       least(u, min(v)) = u AS is_canonical
FROM reach GROUP BY u
"""


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over `documents`: docs 0-49 act as the
    held-out benchmark; every corpus doc sharing >= 5 distinct 3-grams
    with the benchmark's global gram set is flagged with its overlap
    count. The oracle recomputes the same overlap from raw string grams
    (the Spark side joins on xxhash64 gram hashes — count equality proves
    the hashed semi-join loses nothing)."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    bench = docs.where(F.col("doc_id") < 50)
    corpus = docs.where(F.col("doc_id") >= 50)
    return dedup.contamination_overlap(corpus, bench, n=3, min_shared=5)


CONTAMINATION_SQL = """
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), words AS (
  SELECT id, string_split(t, ' ') AS w, t FROM norm
), sh AS (
  SELECT id, list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
         ELSE [t] END) AS grams
  FROM words
), bench AS (
  SELECT DISTINCT unnest(grams) AS g FROM sh WHERE id < 50
), corpus AS (
  SELECT id, unnest(grams) AS g FROM sh WHERE id >= 50
)
SELECT id AS doc_id, COUNT(*) AS shared_grams
FROM corpus JOIN bench USING (g)
GROUP BY id
HAVING COUNT(*) >= 5
"""


def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic dedup: embedding-cosine near-dup pairs ->
    connected components -> keep one canonical vector per cluster plus
    every unclustered vector. This is the composed product a curation
    pipeline actually ships (the pair list is an intermediate).

    Scale shape: the pair list comes from the CLUSTER-BOUNDED generator
    (operators/dedup.py::cluster_neardup_pairs — k-means cells +
    multi-probe n_probe=3, FLOPs ~ n^2*p^2/k instead of the all-pairs
    GEMM's n^2; at 100x the corpus the GEMM is 10,000x the work), the
    same switch `neardup_pagerank` made. Rows-only for the driver: the
    bucketed pairs are a recall-gated (>= 0.9, measured 0.97) SUBSET of
    the exact pairs, so components can be finer and the kept set a
    SUPERSET of the exact kept set — gated in tests/test_quality.py
    (kept-set superset + <= 1% extra kept). The exact
    all-pairs baseline stays available as `embedding_neardup`
    (oracle-exact), which the recall gates compare against."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.cluster_neardup_pairs(emb, threshold=0.4, n_cells=8, n_probe=3)
    comp = dedup.connected_components(pairs)
    dropped = comp.where(F.col("comp") != F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    return emb.join(dropped, "vec_id", "left_anti").select("vec_id")


def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix selection: per detected language, keep the
    highest-quality documents until a 2000-token budget fills (first doc
    of a stratum always kept). Ordering uses the round-4 quality score —
    rounded to 4 places in BOTH engines so the cut point is identical —
    with doc_id as the deterministic tiebreak."""
    from wp_motor_spark.operators import curate

    docs = _t(spark, sf_dir, spread=True, name="documents")
    scored = docs.select(
        "doc_id",
        text.detect_language(F.col("text")).alias("lang"),
        F.round(text.quality_score(F.col("text")), 4).alias("q"),
        text.token_count_ws(F.col("text")).alias("n_tok"),
    )
    sel = curate.token_budget_select(
        scored, budget=2000, tokens_col="n_tok", partition_col="lang", order_col="q"
    )
    return sel.select("doc_id", "lang", "q", "n_tok", "cum_tokens")


def _corpus_budget_sql() -> str:
    from wp_motor_spark.operators.text import _PROFILES

    stopwords = ",".join(f"'{w}'" for w in _PROFILES["en"])
    struct_rows = ", ".join(
        "{'score': %s, 'lang': '%s'}" % (_lang_sql_score(lang, words), lang)
        for lang, words in _PROFILES.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\\s+') END AS toks_cased
  FROM documents
), m AS (
  SELECT doc_id,
         list_max([{struct_rows}]) AS best,
         len(toks_cased) AS n_tok,
         CAST(len(toks) AS DOUBLE) AS n_tok_d,
         CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE)
           / greatest(len(toks), 1) AS wl,
         CAST(len(list_filter(toks, w -> w IN ({stopwords}))) AS DOUBLE)
           / greatest(len(toks), 1) AS sw
  FROM t
), scored AS (
  SELECT doc_id,
         CASE WHEN best.score >= 0.08 THEN best.lang ELSE 'und' END AS lang,
         ROUND(least(n_tok_d / 20.0, 1.0)
               * (CASE WHEN n_tok_d > 1000 THEN 0.5 ELSE 1.0 END)
               * (CASE WHEN punct_ratio > 0.2 THEN 0.5 ELSE 1.0 END)
               * (CASE WHEN wl >= 3 AND wl <= 10 THEN 1.0 ELSE 0.6 END)
               * (CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END), 4) AS q,
         n_tok
  FROM m
), ranked AS (
  SELECT doc_id, lang, q, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rk
  FROM scored
)
SELECT doc_id, lang, q, n_tok, cum_tokens
FROM ranked WHERE cum_tokens <= 2000 OR rk = 1
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample of events by type (id-modulus
    gate — reproducible across engines/runs, unlike RNG sampleBy)."""
    from wp_motor_spark.operators import curate

    ev = _t(spark, sf_dir, "events")
    out = curate.sample_fraction_by_key(
        ev,
        {"view": 0.2, "click": 0.5},
        key_col="event_type",
        id_col="event_id",
    )
    return out.select("event_id", "event_type", "user_id")


def _stratified_sample_sql() -> str:
    from wp_motor_spark.operators.curate import id_bucket_sql

    return f"""
SELECT event_id, event_type, user_id
FROM events
WHERE {id_bucket_sql("event_id")} < (CASE event_type
    WHEN 'view' THEN 0.2 WHEN 'click' THEN 0.5 ELSE 1.0 END) * 10000
"""


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents: per-category match counts + redacted
    text. The corpus is word-soup, so PII is injected deterministically
    from doc_id (same construction in the oracle SQL) — the operator then
    does real detection/replacement work that the value-level hash
    verifies, including the email-before-phone ordering (the email local
    part contains a digit run a naive phone pass would half-match)."""
    from wp_motor_spark.operators import pii

    docs = _t(spark, sf_dir, spread=True, name="documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("_13"),
        F.lpad((F.col("doc_id") * 7919 % 100000000).cast("string"), 8, "0"),
        F.lit("@mail.example.com tel 13"),
        F.lpad((F.col("doc_id") * 104729 % 1000000000).cast("string"), 9, "0"),
        F.lit(" ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") * 3 % 256).cast("string"),
        F.lit(" id 110101199003071"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
        F.lit(" end"),
    )
    with_aug = docs.select("doc_id", aug.alias("aug"))
    counts = pii.pii_counts(F.col("aug"))
    return with_aug.select(
        "doc_id",
        counts.getField("email").alias("n_email"),
        counts.getField("phone").alias("n_phone"),
        counts.getField("ipv4").alias("n_ip"),
        counts.getField("id_card").alias("n_id"),
        pii.redact(F.col("aug")).alias("redacted"),
    )


def _pii_sql() -> str:
    from wp_motor_spark.operators.pii import PATTERNS

    email, idc, phone, ip = (
        PATTERNS["email"],
        PATTERNS["id_card"],
        PATTERNS["phone"],
        PATTERNS["ipv4"],
    )
    return f"""
WITH a AS (
  SELECT doc_id,
         text || ' contact u' || doc_id
              || '_13' || lpad(CAST(doc_id * 7919 % 100000000 AS VARCHAR), 8, '0')
              || '@mail.example.com tel 13'
              || lpad(CAST(doc_id * 104729 % 1000000000 AS VARCHAR), 9, '0')
              || ' ip 10.' || (doc_id % 256) || '.0.' || (doc_id * 3 % 256)
              || ' id 110101199003071' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
              || ' end' AS aug
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(aug, '{email}')) AS n_email,
       len(regexp_extract_all(aug, '{phone}')) AS n_phone,
       len(regexp_extract_all(aug, '{ip}')) AS n_ip,
       len(regexp_extract_all(aug, '{idc}')) AS n_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(aug, '{email}', '[EMAIL]', 'g'),
             '{idc}', '[ID]', 'g'),
           '{phone}', '[PHONE]', 'g'),
         '{ip}', '[IP]', 'g') AS redacted
FROM a
"""


def paragraph_dedup_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level dedup: synthetic multi-paragraph
    'pages' are assembled deterministically from documents (page =
    doc_id%100 group, paragraph = 24-char text prefix — prefixes collide
    across docs, giving real repeated paragraphs), then every repeated
    paragraph is removed keeping its first (page, position) occurrence
    and pages are reassembled. Oracle replicates the whole flow in SQL."""
    docs = _t(spark, sf_dir, "documents")
    pages = (
        docs.select(
            (F.col("doc_id") % 100).alias("page_id"),
            F.struct(F.col("doc_id"), F.substring("text", 1, 24).alias("para")).alias("s"),
        )
        .groupBy("page_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["para"]),
                "\n\n",
            ).alias("text")
        )
    )
    out = dedup.paragraph_dedup(pages, text_col="text", id_col="page_id")
    return out.select("page_id", "text", "n_paras_kept")


PARAGRAPH_DEDUP_SQL = r"""
WITH paras AS (
  SELECT doc_id % 100 AS page_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 100 ORDER BY doc_id) - 1 AS pos,
         substr(text, 1, 24) AS para
  FROM documents
), normed AS (
  SELECT page_id, pos, para,
         trim(regexp_replace(lower(para), '\s+', ' ', 'g')) AS norm
  FROM paras
  WHERE length(trim(para)) > 0
), winners AS (
  SELECT norm, min(page_id * 100000 + pos) AS wkey FROM normed GROUP BY norm
), kept AS (
  SELECT n.page_id, n.pos, n.para
  FROM normed n JOIN winners w
    ON n.norm = w.norm AND n.page_id * 100000 + n.pos = w.wkey
)
SELECT page_id,
       string_agg(para, e'\n\n' ORDER BY pos) AS text,
       count(*) AS n_paras_kept
FROM kept
GROUP BY page_id
"""


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality filter (Rae et al. 2021 table A1):
    per-doc repetition stats + rule flags + keep decision, all map-only
    JVM array expressions. The oracle computes top-word fraction with a
    DIFFERENT algorithm (unnest + group-count vs the Spark side's sorted
    run-length scan) — value equality checks the semantics, not the
    implementation."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    c = F.col("text")
    # materialize each metric ONCE, then flag from the materialized
    # columns: separate metric calls carry fresh lambda-variable ids
    # which defeat codegen CSE — measured 7 s -> sub-second at sf0.01
    metrics = docs.select(
        "doc_id",
        text.token_count_ws(c).alias("n_tok"),
        text.mean_word_length(c).alias("__wl"),
        text.stopword_ratio(c).alias("__sw"),
        text.top_word_fraction(c).alias("__topf"),
        text.duplicate_token_fraction(c).alias("__dupf"),
    )
    g = text.gopher_flags_from_metrics(
        F.col("n_tok"), F.col("__wl"), F.col("__sw"), F.col("__topf"), F.col("__dupf")
    )
    return metrics.select(
        "doc_id",
        "n_tok",
        F.round("__topf", 4).alias("top_word_frac"),
        F.round("__dupf", 4).alias("dup_tok_frac"),
        g.getField("ok_n_words").alias("ok_n_words"),
        g.getField("ok_word_len").alias("ok_word_len"),
        g.getField("ok_stopwords").alias("ok_stopwords"),
        g.getField("ok_top_word").alias("ok_top_word"),
        g.getField("ok_dup_tokens").alias("ok_dup_tokens"),
        g.getField("keep").alias("keep"),
    )


def _gopher_sql() -> str:
    from wp_motor_spark.operators.text import _PROFILES

    stopwords = ",".join(f"'{w}'" for w in _PROFILES["en"])
    return rf"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
  FROM documents
), u AS (
  SELECT doc_id, unnest(toks) AS w FROM t
), topw AS (
  SELECT doc_id, max(c) AS top_cnt
  FROM (SELECT doc_id, w, count(*) AS c FROM u GROUP BY 1, 2) GROUP BY 1
), m AS (
  SELECT t.doc_id,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_dist,
         CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE)
           / greatest(len(toks), 1) AS wl,
         CAST(len(list_filter(toks, w -> w IN ({stopwords}))) AS DOUBLE)
           / greatest(len(toks), 1) AS sw,
         CASE WHEN len(toks) <= 1 THEN 1.0
              ELSE CAST(topw.top_cnt AS DOUBLE) / len(toks) END AS topf,
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS dupf
  FROM t LEFT JOIN topw USING (doc_id)
)
SELECT doc_id, n_tok,
       ROUND(topf, 4) AS top_word_frac,
       ROUND(dupf, 4) AS dup_tok_frac,
       (n_tok BETWEEN 50 AND 100000) AS ok_n_words,
       (wl BETWEEN 3 AND 10) AS ok_word_len,
       (sw >= 0.02) AS ok_stopwords,
       (topf <= 0.2) AS ok_top_word,
       (dupf <= 0.6) AS ok_dup_tokens,
       ((n_tok BETWEEN 50 AND 100000) AND (wl BETWEEN 3 AND 10)
        AND (sw >= 0.02) AND (topf <= 0.2) AND (dupf <= 0.6)) AS keep
FROM m
"""


_MIX_TARGETS = {"en": 0.5, "fr": 0.2, "de": 0.2, "zh": 0.1}


def domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-subset domain mixing: target 50/20/20/10 en/fr/de/zh (es
    dropped), binding domain sets the scale, others downsample via the
    deterministic id-mod gate. The oracle computes the scale entirely in
    SQL (no driver collect) — an independent derivation of the same
    fractions."""
    from wp_motor_spark.operators import curate

    docs = _t(spark, sf_dir, "documents")
    out = curate.domain_mixture_select(docs, _MIX_TARGETS, key_col="lang")
    return out.select("doc_id", "lang", "source")


def _domain_mixture_sql() -> str:
    from wp_motor_spark.operators.curate import id_bucket_sql

    shares = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in _MIX_TARGETS.items()
    )
    return f"""
WITH c AS (
  SELECT lang, count(*) AS cnt,
         CASE lang {shares} ELSE 0.0 END AS share
  FROM documents GROUP BY lang
), s AS (
  SELECT min(cnt / share) AS scale FROM c WHERE share > 0
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN c ON d.lang = c.lang, s
WHERE c.share > 0
  AND {id_bucket_sql("d.doc_id")} < (c.share * s.scale / c.cnt) * 10000
"""


_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (RAG / context prep):
    32-token windows, 8-token overlap, one row per chunk. Map-only plan —
    tokenize + transform + explode, no shuffle."""
    from wp_motor_spark.operators import curate

    docs = _t(spark, sf_dir, "documents")
    return curate.chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )


def _doc_chunks_sql() -> str:
    stride = _CHUNK_TOKENS - _CHUNK_OVERLAP
    return rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= {_CHUNK_TOKENS} THEN 1
              ELSE CAST(ceil((len(toks) - {_CHUNK_OVERLAP}) / {stride}.0) AS INT)
         END AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_no,
       array_to_string(
         list_slice(toks, i * {stride} + 1, i * {stride} + {_CHUNK_TOKENS}), ' '
       ) AS chunk_text,
       CAST(len(list_slice(toks, i * {stride} + 1, i * {stride} + {_CHUNK_TOKENS}))
            AS INT) AS n_chunk_tok
FROM c, unnest(range(0, n_chunks)) AS g(i)
"""


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact-span dedup (Lee et al. 2022): per document, how
    many of its distinct 8-token windows also appear in another document.
    Spans travel as xxhash64 longs (one (long,long) shuffle); the oracle
    recomputes by exact span TEXT — value equality holds unless xxhash64
    collides (~2^-64 per pair)."""
    from wp_motor_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.span_duplicates(docs, span=8)


SPAN_DEDUP_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
), s AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS sp
  FROM t, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS g(i)
), df AS (
  SELECT sp, count(*) AS c FROM s GROUP BY sp
), dup AS (
  SELECT s.doc_id, count(*) AS n_dup_spans
  FROM s JOIN df ON s.sp = df.sp AND df.c >= 2
  GROUP BY s.doc_id
), base AS (
  SELECT doc_id, count(*) AS n_spans FROM s GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(b.n_spans, 0) AS INT) AS n_spans,
       coalesce(d.n_dup_spans, 0) AS n_dup_spans,
       round(coalesce(d.n_dup_spans, 0) / greatest(coalesce(b.n_spans, 0), 1), 4)
         AS dup_frac
FROM t LEFT JOIN base b USING (doc_id) LEFT JOIN dup d ON t.doc_id = d.doc_id
"""


_PACK_SEQ_LEN = 256
_PACK_BUCKETS = 16


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concat-then-cut sequence packing: documents spread
    over 16 hash streams, each stream's docs concatenated in id order and
    cut into 256-token packs; each doc reports (bucket, pack_id,
    pack_offset). One window shuffle on the bucket key."""
    from wp_motor_spark.operators import curate

    docs = _t(spark, sf_dir, "documents")
    with_tok = docs.select(
        "doc_id", text.token_count_ws(F.col("text")).alias("n_tokens")
    )
    out = curate.pack_sequences(
        with_tok, seq_len=_PACK_SEQ_LEN, n_buckets=_PACK_BUCKETS
    )
    return out.select("doc_id", "n_tokens", "bucket", "pack_id", "pack_offset")


def _pack_sequences_sql() -> str:
    from wp_motor_spark.operators.curate import id_bucket_sql

    bucket = id_bucket_sql("doc_id", _PACK_BUCKETS)
    return rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
         {bucket} AS bucket
  FROM documents
), w AS (
  SELECT doc_id, n_tokens, bucket,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY bucket ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, bucket,
       CAST(floor(cum_before / {_PACK_SEQ_LEN}) AS BIGINT) AS pack_id,
       CAST(cum_before % {_PACK_SEQ_LEN} AS BIGINT) AS pack_offset
FROM w
"""


def corpus_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-language corpus profile: doc counts, token totals, and
    EXACT interpolated p50/p90/p99 token-count quantiles (Spark
    `percentile` == DuckDB `quantile_cont`, both index p*(n-1) linear
    interpolation). One aggregation; shuffle carries |langs| combined
    partials."""
    from wp_motor_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.corpus_profile(docs, group_col="lang").withColumnsRenamed(
        {"grp": "lang"}
    )


CORPUS_PROFILE_SQL = r"""
WITH t AS (
  SELECT lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       round(avg(nt), 4) AS mean_tokens,
       round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
       round(quantile_cont(nt, 0.9), 4) AS p90_tokens,
       round(quantile_cont(nt, 0.99), 4) AS p99_tokens,
       CAST(min(nt) AS INT) AS min_tokens,
       CAST(max(nt) AS INT) AS max_tokens
FROM t GROUP BY lang
"""


_TOP_TOKENS_N = 50


def top_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-frequency table (stopword derivation): top 50 tokens
    by (count desc, token asc) with corpus count and document frequency.
    Two-phase aggregation — map-side partial combine absorbs the Zipf
    head, final sort touches |vocab| rows only."""
    from wp_motor_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.top_tokens(docs, n=_TOP_TOKENS_N)


TOP_TOKENS_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), filt AS (
  SELECT doc_id, token FROM tok WHERE length(token) >= 1
), agg AS (
  SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
  FROM filt GROUP BY token
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank,
       token, cnt, doc_freq
FROM agg
ORDER BY cnt DESC, token ASC
LIMIT {_TOP_TOKENS_N}
"""


def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus incremental dedup: odd doc_ids are "today's
    batch", even doc_ids the already-ingested corpus; keep batch docs
    whose normalized content is new (absent from the corpus, first within
    the batch). Digest-only anti-join — document text never shuffles."""
    from wp_motor_spark.operators import dedup as _dd

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 2 == 1)
    seen = docs.where(F.col("doc_id") % 2 == 0)
    out = _dd.incremental_dedup(batch, seen)
    return out.select("doc_id", "lang", "source", "n_chars")


INCREMENTAL_DEDUP_SQL = r"""
WITH b AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 2 = 1
), s AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 2 = 0
), fresh AS (
  SELECT b.doc_id, b.t FROM b LEFT JOIN s USING (t) WHERE s.t IS NULL
), win AS (
  SELECT min(doc_id) AS doc_id FROM fresh GROUP BY t
)
SELECT doc_id, lang, source, n_chars
FROM documents WHERE doc_id IN (SELECT doc_id FROM win)
"""


def incremental_dedup_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-prefiltered variant of incremental_dedup — SAME oracle
    SQL, because false positives fall through to the exact anti-join and
    definite-misses are exact by construction: the filter changes the
    cost shape (broadcastable bits instead of an in-memory digest set),
    never the answer."""
    from wp_motor_spark.operators import dedup as _dd

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 2 == 1)
    seen = docs.where(F.col("doc_id") % 2 == 0)
    out = _dd.incremental_dedup_bloom(batch, seen, n_expected=100_000, fpp=0.01)
    return out.select("doc_id", "lang", "source", "n_chars")


def embedding_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column — pure JVM array
    expressions, map-only. The unit vector is emitted as a fixed-point
    string (each component round(x*1e6) as bigint, comma-joined) so the
    value comparison is integer-exact in both engines instead of relying
    on float→string formatting."""
    from wp_motor_spark.operators import embed

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    unit = embed.l2_normalize(v)
    fixed = F.array_join(
        F.transform(unit, lambda x: F.round(x * 1e6, 0).cast("bigint").cast("string")),
        ",",
    )
    return emb.select(
        "vec_id",
        F.round(similarity.norm(v), 6).alias("l2_norm"),
        fixed.alias("unit_fp"),
    )


EMB_NORMALIZE_SQL = r"""
WITH t AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM t
)
SELECT vec_id,
       round(nrm, 6) AS l2_norm,
       array_to_string(
         list_transform(v, x -> CAST(round(x / greatest(nrm, 1e-12) * 1e6)
                                     AS BIGINT)), ',') AS unit_fp
FROM n
"""


def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding column (the 4x ANN
    memory lever): per-vector scale + the int8 vector as a comma-joined
    string for integer-exact cross-engine comparison."""
    from wp_motor_spark.operators import embed

    emb = _t(spark, sf_dir, "embeddings")
    q = embed.quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("scale", 8).alias("scale"),
        F.array_join(
            F.transform(F.col("qvec"), lambda x: x.cast("string")), ","
        ).alias("qvec_s"),
    )


EMB_QUANTIZE_SQL = r"""
WITH t AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0
           AS scale
  FROM t
)
SELECT vec_id,
       round(scale, 8) AS scale,
       array_to_string(
         list_transform(v, x -> CAST(CAST(round(x / scale) AS BIGINT) AS VARCHAR)),
         ',') AS qvec_s
FROM s
"""


def embedding_pca_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection to 4 components: one Gram-matrix
    aggregation pass (d² partials per partition, driver eigh on the tiny
    d×d covariance), then an Arrow-batched GEMM projection. Rows-only
    check (eigendecomposition is not SQL-expressible); orthonormality /
    variance-capture / reconstruction gates live in tests/test_embed.py
    and QUALITY artifacts."""
    from wp_motor_spark.operators import embed

    emb = _t(spark, sf_dir, "embeddings")
    out = embed.pca_project(emb, k=4, dim=_emb_dim(spark, sf_dir))
    return out.select(
        "vec_id",
        *[F.round(F.col("pc")[i], 4).alias(f"pc{i + 1}") for i in range(4)],
    )


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


PURCHASE_ATTRIBUTION_SQL = """
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
"""


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


REGION_ROLLUP_SQL = """
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
"""


def span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. span REMOVAL (the second half of span_dedup): delete
    every token covered by a corpus-duplicated 8-token window. Oracle
    recomputes by exact span text with a correlated NOT EXISTS."""
    from wp_motor_spark.operators import dedup as _dd

    docs = _t(spark, sf_dir, "documents")
    return _dd.remove_duplicate_spans(docs, span=8)


SPAN_REMOVAL_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
), pos AS (
  SELECT doc_id, CAST(i AS INT) AS i,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS sp
  FROM t, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS g(i)
), docfreq AS (
  SELECT sp FROM (SELECT DISTINCT doc_id, sp FROM pos)
  GROUP BY sp HAVING count(*) >= 2
), dup AS (
  SELECT pos.doc_id, pos.i FROM pos JOIN docfreq USING (sp)
), tok AS (
  SELECT t.doc_id, CAST(j AS INT) AS j, toks[j] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS g(j)
), kept AS (
  SELECT tok.doc_id, tok.j, tok.tok
  FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM dup d
    WHERE d.doc_id = tok.doc_id AND d.i <= tok.j AND tok.j < d.i + 8
  )
)
SELECT t.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(toks) - coalesce(k.n_kept, 0) AS INT) AS n_removed
FROM t
LEFT JOIN (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
) k USING (doc_id)
"""


def tfidf_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf keywords (tf/len * ln(N/df), ties by term):
    one token shuffle for df via run-boundary flags, id-keyed tf
    aggregation, broadcast idf join, per-doc ranking window."""
    from wp_motor_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.tfidf_keywords(docs, top_k=5)


TFIDF_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), filt AS (
  SELECT doc_id, token FROM tok WHERE length(token) >= 1
), dl AS (
  SELECT doc_id, count(*) AS len FROM filt GROUP BY doc_id
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM filt GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM filt GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf / greatest(dl.len, 1)
               * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / dfreq.df),
               10) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token)
), ranked AS (
  SELECT doc_id, token,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token ASC) AS rk
  FROM scored
)
SELECT doc_id, string_agg(token, ',' ORDER BY rk) AS keywords
FROM ranked WHERE rk <= 5 GROUP BY doc_id
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation: exact dedup -> Gopher quality gate ->
    per-language quality-ranked token-budget selection — the full
    pre-training data path as ONE composed Spark plan (winners semi-join,
    map-only metric projection + filter, one ranking window), value-
    checked against a DuckDB recomputation of the whole pipeline.

    Plan shape: dedup contributes a digest aggregation + id semi-join;
    the Gopher gate and language/quality scoring fuse into one map-side
    projection over the survivors (all array expressions, no shuffle);
    selection is a single per-language window. Four shuffles total at
    any scale, text never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    survivors = dedup.exact_dedup(docs)
    c = F.col("text")
    metrics = survivors.select(
        "doc_id",
        "text",
        text.token_count_ws(c).alias("n_tok"),
        text.mean_word_length(c).alias("__wl"),
        text.stopword_ratio(c).alias("__sw"),
        text.top_word_fraction(c).alias("__topf"),
        text.duplicate_token_fraction(c).alias("__dupf"),
    )
    g = text.gopher_flags_from_metrics(
        F.col("n_tok"), F.col("__wl"), F.col("__sw"), F.col("__topf"), F.col("__dupf")
    )
    quality_kept = metrics.where(g["keep"])
    scored = quality_kept.select(
        "doc_id",
        text.detect_language(c).alias("lang"),
        F.round(text.quality_score(c), 4).alias("q"),
        "n_tok",
    )
    from wp_motor_spark.operators import curate

    sel = curate.token_budget_select(
        scored, budget=2000, tokens_col="n_tok", partition_col="lang", order_col="q"
    )
    return sel.select("doc_id", "lang", "q", "n_tok", "cum_tokens")


def _curation_pipeline_sql() -> str:
    from wp_motor_spark.operators.text import _PROFILES

    stopwords = ",".join(f"'{w}'" for w in _PROFILES["en"])
    struct_rows = ", ".join(
        "{'score': %s, 'lang': '%s'}" % (_lang_sql_score(lang, words), lang)
        for lang, words in _PROFILES.items()
    )
    return rf"""
WITH win AS (
  SELECT MIN(doc_id) AS doc_id FROM documents
  GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
), base AS (
  SELECT d.doc_id, d.text FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM win)
), t0 AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
  FROM base
), u AS (
  SELECT doc_id, unnest(toks) AS w FROM t0
), topw AS (
  SELECT doc_id, max(c) AS top_cnt
  FROM (SELECT doc_id, w, count(*) AS c FROM u GROUP BY 1, 2) GROUP BY 1
), gm AS (
  SELECT t0.doc_id,
         len(toks) AS n_tok,
         CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE)
           / greatest(len(toks), 1) AS wl,
         CAST(len(list_filter(toks, w -> w IN ({stopwords}))) AS DOUBLE)
           / greatest(len(toks), 1) AS sw,
         CASE WHEN len(toks) <= 1 THEN 1.0
              ELSE CAST(topw.top_cnt AS DOUBLE) / len(toks) END AS topf,
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
           / greatest(len(toks), 1) AS dupf
  FROM t0 LEFT JOIN topw USING (doc_id)
), keepers AS (
  SELECT doc_id FROM gm
  WHERE (n_tok BETWEEN 50 AND 100000) AND (wl BETWEEN 3 AND 10)
    AND (sw >= 0.02) AND (topf <= 0.2) AND (dupf <= 0.6)
), t AS (
  SELECT b.doc_id, b.text,
         CASE WHEN length(trim(b.text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(b.text)), '\s+') END AS toks,
         CASE WHEN length(trim(b.text)) = 0 THEN []
              ELSE string_split_regex(trim(b.text), '\s+') END AS toks_cased
  FROM base b WHERE b.doc_id IN (SELECT doc_id FROM keepers)
), m AS (
  SELECT doc_id,
         list_max([{struct_rows}]) AS best,
         len(toks_cased) AS n_tok,
         CAST(len(toks) AS DOUBLE) AS n_tok_d,
         CAST(length(regexp_replace(text, '[\p{{L}}\p{{N}}\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE)
           / greatest(len(toks), 1) AS wl,
         CAST(len(list_filter(toks, w -> w IN ({stopwords}))) AS DOUBLE)
           / greatest(len(toks), 1) AS sw
  FROM t
), scored AS (
  SELECT doc_id,
         CASE WHEN best.score >= 0.08 THEN best.lang ELSE 'und' END AS lang,
         ROUND(least(n_tok_d / 20.0, 1.0)
               * (CASE WHEN n_tok_d > 1000 THEN 0.5 ELSE 1.0 END)
               * (CASE WHEN punct_ratio > 0.2 THEN 0.5 ELSE 1.0 END)
               * (CASE WHEN wl >= 3 AND wl <= 10 THEN 1.0 ELSE 0.6 END)
               * (CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END), 4) AS q,
         n_tok
  FROM m
), ranked AS (
  SELECT doc_id, lang, q, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rk
  FROM scored
)
SELECT doc_id, lang, q, n_tok, cum_tokens
FROM ranked WHERE cum_tokens <= 2000 OR rk = 1
"""


_SPLIT_VAL_PCT = 5
_SPLIT_TEST_PCT = 5


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by the multiplicative id
    hash (90/5/5): reproducible across runs and engines, uncorrelated
    with id order — the property RNG splits can't give a distributed
    pipeline (executor-dependent seeds) and `id % 100` can't give
    sequential ids (the first 90% of every range). Map-only."""
    from wp_motor_spark.operators.curate import id_bucket

    docs = _t(spark, sf_dir, "documents")
    b = id_bucket(F.col("doc_id"), 100)
    split = (
        F.when(b < _SPLIT_TEST_PCT, "test")
        .when(b < _SPLIT_TEST_PCT + _SPLIT_VAL_PCT, "val")
        .otherwise("train")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


def _train_val_split_sql() -> str:
    from wp_motor_spark.operators.curate import id_bucket_sql

    b = id_bucket_sql("doc_id", 100)
    return f"""
SELECT doc_id, lang,
       CASE WHEN {b} < {_SPLIT_TEST_PCT} THEN 'test'
            WHEN {b} < {_SPLIT_TEST_PCT + _SPLIT_VAL_PCT} THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE token counting: merges trained on the bounded
    deterministic sample, broadcast into an Arrow encoder; per-doc
    whitespace vs BPE token counts + compression ratio. Rows-only (no SQL
    BPE); round-trip/parity gates in tests/test_bpe.py and tests/test_quality.py.

    Training runs on EVERY invocation (r17): the former per-(session, sf)
    merge cache survived spark.catalog.clearCache(), so a bench's pass-2
    timing excluded training — cross-pass amortization, not a scale win.
    The merges are deterministic (hash-ordered sample, lexicographic tie
    breaks), so retraining cannot change the output."""
    from wp_motor_spark.operators import bpe

    docs = _t(spark, sf_dir, spread=True, name="documents")
    counter = bpe.encode_udf(bpe.train_bpe(docs, num_merges=200), output="count")
    return docs.select(
        "doc_id",
        text.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        counter(F.col("text")).alias("n_bpe_tokens"),
    ).withColumn(
        "bpe_per_word",
        F.round(
            F.col("n_bpe_tokens")
            / F.greatest(F.col("n_ws_tokens"), F.lit(1)),
            4,
        ),
    )


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection over the monitoring stream: hourly counts
    per event type, flagged where |count - median| > 3 * MAD (median
    absolute deviation — robust to the very outliers it hunts, unlike
    z-scores). Exact interpolated medians both engines; two aggregation
    passes + a broadcast join of |types| stat rows."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    withmed = hourly.join(F.broadcast(med), "event_type")
    mad = withmed.groupBy("event_type").agg(
        F.expr("percentile(abs(cnt - med), 0.5)").alias("mad")
    )
    flagged = (
        withmed.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("cnt") - F.col("med")) > 3 * F.greatest(F.col("mad"), F.lit(0.5)))
        .select(
            "event_type",
            "hour",
            "cnt",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )
    )
    return flagged


EVENTS_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, quantile_cont(cnt, 0.5) AS med FROM hourly GROUP BY 1
), mad AS (
  SELECT h.event_type, quantile_cont(abs(h.cnt - m.med), 0.5) AS mad
  FROM hourly h JOIN med m USING (event_type) GROUP BY 1
)
SELECT h.event_type, h.hour, h.cnt,
       round(m.med, 4) AS med, round(d.mad, 4) AS mad
FROM hourly h JOIN med m USING (event_type) JOIN mad d USING (event_type)
WHERE abs(h.cnt - m.med) > 3 * greatest(d.mad, 0.5)
"""


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


def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible text, pure JVM regex chain (the WARC-ingestion
    companion): each doc's text is wrapped in a deterministic HTML
    template with script/style/comment noise IN BOTH ENGINES, extracted,
    and compared value-level — the oracle runs the same RE2-safe
    patterns, so this checks the extraction semantics end to end."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><script>var a='<p>x</p>';</script>"
              "<style>p{}</style></head><body><!-- gen --><h1>"),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("&nbsp;&amp; tail</p></body></html>"),
    )
    return docs.select(
        "doc_id", text.html_to_text(html).alias("clean")
    )


HTML_EXTRACT_SQL = r"""
WITH h AS (
  SELECT doc_id,
         '<html><head><script>var a=''<p>x</p>'';</script><style>p{}</style></head><body><!-- gen --><h1>'
         || lang || '</h1><p>' || text || '&nbsp;&amp; tail</p></body></html>' AS html
  FROM documents
), s AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      html,
      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g'),
      '(?i)<(br|/p|/div|/h[1-6]|/li|/tr)\b[^>]*>', chr(10), 'g'),
      '(?s)<[^>]+>', ' ', 'g') AS t
  FROM h
), e AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(replace(t,
           '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', ''''), '&apos;', '''') AS t
  FROM s
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         '[ \t]+', ' ', 'g'),
         ' ?\n ?', chr(10), 'g'),
         '\n{2,}', chr(10), 'g'),
         '^\s+|\s+$', '', 'g') AS clean
FROM e
"""


def compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio — the redundancy quality signal
    (machine-generated loops compress far below prose). Rows-only: DuckDB
    has no DEFLATE; byte-identical parity with driver-side zlib is gated
    in tests/test_curate.py and tests/test_quality.py."""
    docs = _t(spark, sf_dir, "documents")
    ratio = text.compression_ratio_udf()
    return docs.select(
        "doc_id", ratio(F.col("text")).alias("comp_ratio")
    )


def doc_information_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc information signals: mean corpus-unigram surprisal
    (perplexity proxy) and within-doc token entropy. One token-keyed
    corpus count broadcast onto id-keyed (id, token, tf) rows."""
    from wp_motor_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.doc_information(docs)


DOC_INFO_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), filt AS (
  SELECT doc_id, token FROM tok WHERE length(token) >= 1
), dl AS (
  SELECT doc_id, count(*) AS len FROM filt GROUP BY doc_id
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM filt GROUP BY doc_id, token
), corpus AS (
  SELECT token, count(*) AS c FROM filt GROUP BY token
), total AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM filt
)
SELECT tf.doc_id,
       round(sum(tf.tf * -ln(corpus.c / total.n)) / greatest(dl.len, 1), 6)
         AS surprisal,
       round(sum(tf.tf * -ln(tf.tf / CAST(greatest(dl.len, 1) AS DOUBLE)))
             / greatest(dl.len, 1), 6) AS entropy
FROM tf JOIN corpus USING (token) JOIN dl USING (doc_id), total
GROUP BY tf.doc_id, dl.len
"""


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering for mixture balancing: every embedding assigned
    to its nearest spherical-k-means centroid (deterministic bounded-
    sample refinement, distributed Arrow GEMM assignment), aggregated to
    per-cluster size and mean similarity. Rows-only check (k-means is
    iterative, not SQL); inertia/assignment gates live in
    tests/test_quality.py."""
    emb = _t(spark, sf_dir, "embeddings")
    a = similarity.kmeans_assign(emb, n_cells=8, kmeans_iters=5)
    return (
        a.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("sim"), 4).alias("mean_sim"),
        )
        .orderBy("cluster")
    )


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


Q6_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


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


EVENTS_PIVOT_SQL = """
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM events WHERE user_id < 300 GROUP BY user_id
"""


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


RETURNING_CUSTOMERS_SQL = """
SELECT o_custkey AS custkey FROM orders
WHERE o_orderdate < '1998-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= '1998-01-01'
EXCEPT
SELECT DISTINCT o_custkey FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R' AND o_orderdate >= '1999-06-01'
"""


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


Q14_SQL = """
SELECT round(CAST(
         sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  ELSE 0.0 END) * 100.0
         / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
       AS DOUBLE), 4) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
"""


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


RUNNING_REVENUE_SQL = """
SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 2) AS cum_revenue
FROM orders
WHERE o_custkey < 200
"""


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


Q17_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) / 7 AS DOUBLE), 2)
         AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics funnel signup → view → purchase: per user the
    first ts of each stage IN ORDER (view after signup, purchase after
    that view), aggregated to per-stage user counts. Three user-keyed
    aggregations with conditional `min` — the stage ordering makes each
    stage depend on the previous stage's timestamp, so it's one re-agg
    per stage (all on the SAME user_id partitioning, which AQE reuses),
    never a per-pair self-join."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup")
    )
    staged = (
        ev.join(per_user, "user_id")
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "view") & (F.col("ts") >= F.col("t_signup")),
                    F.col("ts"),
                )
            ).alias("t_view")
        )
    )
    staged2 = (
        ev.join(staged, "user_id")
        .groupBy("user_id", "t_signup", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    return staged2.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(F.col("t_signup").isNotNull()).alias("n_signup"),
        F.count_if(
            F.col("t_signup").isNotNull() & F.col("t_view").isNotNull()
        ).alias("n_view"),
        F.count_if(
            F.col("t_signup").isNotNull()
            & F.col("t_view").isNotNull()
            & F.col("t_purchase").isNotNull()
        ).alias("n_purchase"),
    )


FUNNEL_SQL = """
WITH s AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM events GROUP BY user_id
), v AS (
  SELECT e.user_id, s.t_signup,
         min(CASE WHEN e.event_type = 'view' AND e.ts >= s.t_signup
                  THEN e.ts END) AS t_view
  FROM events e JOIN s USING (user_id)
  GROUP BY e.user_id, s.t_signup
), p AS (
  SELECT e.user_id, v.t_signup, v.t_view,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= v.t_view
                  THEN e.ts END) AS t_purchase
  FROM events e JOIN v USING (user_id)
  GROUP BY e.user_id, v.t_signup, v.t_view
)
SELECT count(*) AS n_users,
       count(t_signup) AS n_signup,
       count(CASE WHEN t_signup IS NOT NULL AND t_view IS NOT NULL
                  THEN 1 END) AS n_view,
       count(CASE WHEN t_signup IS NOT NULL AND t_view IS NOT NULL
                  AND t_purchase IS NOT NULL THEN 1 END) AS n_purchase
FROM p
"""


# --------------------------------------------------------------------------
# Round-5 relational widening: the remaining TPC-H shapes expressible on
# the trimmed test schema (no partsupp, no commit/receipt dates, no phone
# — predicates adapted where the original column is absent, the join/agg
# SHAPE preserved), plus BM25 retrieval and bigram-LM perplexity scoring
# for the training-data curation family.
# --------------------------------------------------------------------------


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


Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
GROUP BY o_orderpriority
"""


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


Q7_SQL = """
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
"""


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


Q8_SQL = """
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
"""


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


Q13_SQL = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


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


Q15_SQL = """
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
"""


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


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(t.total_qty AS DOUBLE) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300) t ON o_orderkey = t.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


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


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'PROMO' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
"""


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


Q22_SQL = """
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
       round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '1999-01-01')
GROUP BY 1
"""


_BM25_TERMS = ("hash", "window", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over `documents` (Robertson/Sparck Jones;
    the Lucene idf variant ln((N-df+.5)/(df+.5)+1)) for a fixed term set
    — the retrieval scorer a RAG/data-curation stack runs next to ANN.

    Scale shape: the token explode is FILTERED to the query terms
    map-side, so the shuffle carries only (doc, term) hits — O(matches),
    not O(tokens). Document length rides the same row (computed before
    the filter); N and avgdl fold in as a broadcast one-row frame (the
    bigram_pmi totals pattern — no eager collect at plan build); df is a
    |terms|-row broadcast. Top-20 via TakeOrderedAndProject.

    (A persisted shared inverted index cache-shared with hybrid_search
    was measured SLOWER for the pair at sf0.1 — 8.2 s build + 5.5 s ride
    vs ~1 s + ~2.5 s with both sides O(matches) — so each query filters
    to its own terms below the aggregation instead; see hybrid_search.)"""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = docs.select(
        "doc_id",
        F.size(text.tokens(F.col("text"))).alias("dl"),
        F.explode(
            F.filter(
                text.tokens(F.col("text")),
                lambda t: t.isin(*_BM25_TERMS),
            )
        ).alias("term"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(text.tokens(F.col("text")))).alias("avgdl"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    contrib = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib).cast("double"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


BM25_SQL = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
), dl AS (
  SELECT doc_id, len(a) AS dl FROM tok
), hits AS (
  SELECT doc_id, u.t AS term FROM tok, LATERAL (SELECT unnest(a) AS t) u
  WHERE u.t IN ('hash','window','merge')
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
)
SELECT doc_id, round(CAST(sum(
         ln((n - df + 0.5) / (df + 0.5) + 1) * tf * ({_BM25_K1} + 1)
         / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
       ) AS DOUBLE), 4) AS score
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""


def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity (the CCNet-style quality
    signal: fluent text scores low, gibberish high) against a model
    trained on the corpus itself — P(w2|w1) = c(w1,w2) / c(w1·), doc
    score exp(-mean ln P). Every scored bigram exists in the counts (the
    corpus includes the doc), so no smoothing term is needed and the
    DuckDB oracle reproduces the number exactly.

    Scale shape: ONE bigram-keyed shuffle builds c(w1,w2); c(w1·) is a
    rollup of those counts; the per-doc score equi-joins the exploded
    bigrams against the count tables with NO broadcast hint — over raw
    web text the whitespace-token bigram TYPE count grows near-linearly
    with the corpus (Heaps' law: URLs, ids, numbers), so at 100 TB the
    model tables are tens of GB and must shuffle-join on (w1, w2) /
    (w1). AQE still picks a broadcast join automatically whenever the
    built table is in fact under the threshold (it is at test SFs), so
    the small case loses nothing. Text never shuffles; only
    (doc_id, w1, w2) triples move. The bigram stream and the c(w1,w2)
    model persist (r16): both are referenced twice (model build +
    scoring join; c1 rollup + join), and without the caches the text
    tokenization and the bigram agg each ran twice — narrow
    (long, word, word) / (word, word, long) rows, disk-spillable
    (guide §5 caching rule: reused AND recompute-expensive)."""
    docs = _t(spark, sf_dir, "documents")
    bg = scoped_persist(
        docs.select("doc_id", text.tokens(F.col("text")).alias("a"))
        .where(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.expr("slice(a, 1, size(a) - 1)"),
                    F.expr("slice(a, 2, size(a) - 1)"),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("z"),
        )
        .select("doc_id", "z.w1", "z.w2")
    )
    c12 = scoped_persist(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("ctx"))
    return (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.exp(-F.avg(F.log(F.col("c").cast("double") / F.col("ctx")))),
                4,
            ).alias("ppl")
        )
    )


LM_PPL_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
), bg AS (
  SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
  WHERE len(a) >= 2
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c) AS ctx FROM c12 GROUP BY 1
)
SELECT bg.doc_id,
       round(CAST(exp(-avg(ln(CAST(c12.c AS DOUBLE) / c1.ctx))) AS DOUBLE), 4) AS ppl
FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY 1
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their first
    event; distinct active users per (cohort_week, week_offset) — the
    classic product-analytics retention triangle.

    Scale shape: first-seen = one user-keyed agg; the events→first-seen
    join shuffles on the SAME key so the exchange is reused, then one
    (cohort, offset)-keyed agg with partial count-distinct. No windows,
    no broadcast of the fact side."""
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(wk, F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


RETENTION_SQL = """
WITH fw AS (
  SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY 1
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, CAST(date_trunc('week', ts) AS DATE)) / 7
            AS BIGINT) AS week_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN fw USING (user_id)
GROUP BY 1, 2
"""


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


DECILES_SQL = """
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
"""


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


ORDERS_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p90/p99 of event value): Spark's
    percentile() is a distributed exact aggregate (per-group sorted merge)
    matching DuckDB quantile_cont's linear interpolation bit-for-bit on
    the same doubles."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile(F.col("value"), F.lit(0.99)), 4).alias("p99"),
    )


EVENTS_QUANTILES_SQL = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY 1
"""


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored collocations over the corpus: ln(N·c(a,b) / (c(a)·c(b)))
    for bigrams seen ≥ 20 times — the classic phrase-mining signal
    (Church & Hanks 1990). Top 20 by PMI.

    Scale shape: ONE bigram-keyed shuffle for c(a,b); unigram counts
    are a separate token-keyed rollup; totals are one-row broadcast
    aggs. The scoring joins carry NO broadcast hint on the unigram
    table — a raw-text vocab grows under Heaps' law (1e8-1e9 distinct
    tokens at 100 TB), so the c≥20 frequent-bigram frame shuffle-joins
    on w1/w2; AQE broadcasts the unigram side at runtime when actually
    small. Text never shuffles — only (w1, w2, count) triples move;
    TakeOrderedAndProject caps the result."""
    docs = _t(spark, sf_dir, "documents")
    # NOT persisted (r16): interleaved persist A/Bs measured both the
    # token-array cache and the count-frame caches net-negative locally
    toks = docs.select(text.tokens(F.col("text")).alias("a")).where(
        F.size("a") >= 2
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("z")
    ).select("z.w1", "z.w2")
    # Explicit not-null filter (a no-op: split() never yields NULL tokens)
    # so the c12 subtree canonicalizes identically in the scoring branch
    # (where the inner join pushes isnotnull down) and the totals branch —
    # otherwise ReuseExchange misses and the bigram pass runs twice.
    bg = bg.where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uni = toks.select(F.explode("a").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cw")
    )
    # Corpus totals fold INTO the plan as a broadcast one-row frame (the
    # customer_deciles bounds pattern): n_bg = Σ c(a,b) and n_uni = Σ c(w)
    # derive from the already-aggregated count tables, so the query runs
    # as ONE action with ReusedExchange on the c12/uni shuffles instead
    # of separate count()/collect() passes re-tokenizing the corpus.
    totals = c12.agg(F.sum("c").cast("double").alias("n_bg")).crossJoin(
        uni.agg(F.sum("cw").cast("double").alias("n_uni"))
    )
    return (
        c12.where(F.col("c") >= 20)
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .withColumnRenamed("cw", "c1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .withColumnRenamed("cw", "c2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c").cast("double") / F.col("n_bg"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_uni"))
                        * (F.col("c2").cast("double") / F.col("n_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


BIGRAM_PMI_SQL = r"""
WITH tok AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), bg AS (
  SELECT u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS cw FROM (SELECT unnest(a) AS w FROM tok) GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM bg) AS n_bg, (SELECT sum(cw) FROM uni) AS n_uni
)
SELECT c12.w1, c12.w2, c12.c AS pair_count,
       round(ln((CAST(c12.c AS DOUBLE) / n_bg)
                / ((CAST(u1.cw AS DOUBLE) / n_uni)
                   * (CAST(u2.cw AS DOUBLE) / n_uni))), 4) AS pmi
FROM c12
JOIN uni u1 ON u1.w = c12.w1
JOIN uni u2 ON u2.w = c12.w2
CROSS JOIN tot
WHERE c12.c >= 20
ORDER BY pmi DESC, c12.w1, c12.w2
LIMIT 20
"""


def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user counts per event type
    (approx_count_distinct, rsd=0.01): THE cardinality sketch for 100 TB
    rollups — fixed-size mergeable registers instead of a count-distinct
    shuffle carrying every key. Engine-specific sketch state → rows-only
    driver check; the numeric gate (|approx−exact|/exact ≤ 3·rsd per
    group vs a DuckDB exact twin) lives in tests/test_quality.py and the
    QUALITY artifact."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
    )


def sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch (Greenwald-Khanna, accuracy 10k) per event
    type — the bounded-memory quantile path whose EXACT twin is
    events_quantiles. Rows-only driver check; gate: approx within the
    twin's p-neighborhood (rank error ≤ 1/accuracy) in
    tests/test_quality.py."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(
            F.percentile_approx(F.col("value"), F.lit(0.5), F.lit(10000)), 4
        ).alias("ap50"),
        F.round(
            F.percentile_approx(F.col("value"), F.lit(0.9), F.lit(10000)), 4
        ).alias("ap90"),
        F.round(
            F.percentile_approx(F.col("value"), F.lit(0.99), F.lit(10000)), 4
        ).alias("ap99"),
    )


def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded shard export for training order: every doc
    gets a shard (md5-derived, seed-keyed) and a reproducible position
    within its shard — the op that makes a 100 TB training run resumable
    and exactly repeatable (same seed → same global example order).

    Scale shape: the permutation hash is map-only; position assignment
    shuffles once on shard (each shard's window sorts independently, so
    parallelism = shard count — size shards to executor memory; the
    standard export then writes each shard partitionBy-style). Seed is a
    literal so both engines compute the identical permutation."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.concat_ws(":", F.lit("seed42"), F.col("doc_id").cast("string")))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(8)
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"), shard)
        .select(
            "shard",
            F.row_number().over(w).alias("pos"),
            "doc_id",
        )
    )


TRAINING_SHARDS_SQL = """
WITH t AS (
  SELECT doc_id,
         md5('seed42' || ':' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), s AS (
  SELECT doc_id, h,
         ('0x' || substr(h, 1, 8))::BIGINT % 8 AS shard
  FROM t
)
SELECT shard,
       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos,
       doc_id
FROM s
"""


def _bm25_query_ranks(docs: DataFrame, K: int) -> DataFrame:
    """Per-query BM25 top-K text ranks for query docs 0-4 (shared by
    hybrid_search and rank_eval_ndcg): the query-term SET semi-joins
    the token stream map-side (broadcast, BEFORE the tf aggregation),
    so the shuffle carries only (doc, term) hits — the same O(matches)
    shape as bm25_search with a dynamic term set instead of literals
    (tf and df per term are unchanged by the term-only filter: it
    keeps every occurrence/doc of a kept term).

    The ranking is the two-phase exact top-K (the brute_force_topk
    shape): a query whose terms are common matches most of the corpus,
    so a single per-query window would send ~all of one query's BM25
    scores to one reducer at 100x. Phase 1 ranks within (query_id,
    physical partition of the agg output) and keeps each partition's
    local top-K; phase 2 ranks the <= K*P survivors. Exact: every
    global top-K row is inside its partition's local top-K, and both
    phases break ties identically (rounded score desc, doc_id asc)."""
    # tokenize ONCE behind a projection boundary: referencing the split
    # expression separately for dl and the explode re-ran the regex per
    # use (r16; same pathology as the curate.py n-gram build)
    tokd = docs.select("doc_id", text.tokens(F.col("text")).alias("__toks"))
    # NOT persisted (r16 interleaved A/B, 5 reps/arm at sf0.1): caching the
    # (doc_id, array<token>) frame was neutral on bm25_search/hybrid_search
    # and ~8% WORSE on rank_eval_ndcg — the spread 32-way re-tokenization is
    # cheaper than the columnar encode of the token arrays, the same
    # pattern as the r16 batch-3 persist sweep.
    qterms = (
        tokd.where(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct(F.col("__toks"))).alias("term"),
        )
    )
    qterm_set = qterms.select("term").distinct()
    toks = tokd.select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    ).join(F.broadcast(qterm_set), "term")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = tokd.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("__toks")).alias("avgdl"),
    )
    k1, b = _BM25_K1, _BM25_B
    contrib = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scores = (
        tf.join(F.broadcast(qterms), "term")
        .where(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib).cast("double"), 4).alias("s"))
    )
    t_order = (F.desc("s"), F.asc("doc_id"))
    wt_part = Window.partitionBy("query_id", "__pid").orderBy(*t_order)
    wt = Window.partitionBy("query_id").orderBy(*t_order)
    return (
        scores.withColumn("__pid", F.spark_partition_id())
        .withColumn("__pr", F.row_number().over(wt_part))
        .where(F.col("__pr") <= K)
        .withColumn("rank_t", F.row_number().over(wt))
        .where(F.col("rank_t") <= K)
        .select("query_id", "doc_id", "rank_t")
    )


def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: per-query BM25 (text side) fused with exact
    embedding cosine (vector side) by Reciprocal Rank Fusion (Cormack,
    Clarke & Buettcher 2009: rrf = Σ 1/(60 + rank) over each list's
    top-20); top-10 per query — the retrieval stack a curation/RAG
    pipeline runs for contamination checks and eval-set mining. Query
    set: docs 0-4 (their tokens as terms, their embeddings as vectors;
    vec_id aligns with doc_id in the testdata).

    Scale shape: the query term set and the one-row corpus stats frame
    BROADCAST into the map-side hit filter, so the text shuffle carries
    only (query, doc, term) hits; the vector side broadcasts 5 query
    vectors into a one-pass corpus scan; BOTH ranks are two-phase exact
    top-K (partial rank within (query, physical partition), then a
    global rank over <= K*P survivors — no reducer ever holds one
    query's full score list); fusion joins two |Q|x20 frames. Both ranks
    sort on ROUNDED scores (4/6 dp) with doc-id tie-breaks so the
    ordering is reproducible across engines."""
    K, RRF_K, TOP = 20, 60, 10
    docs = _t(spark, sf_dir, spread=True, name="documents")
    emb = _t(spark, sf_dir, spread=True, name="embeddings")

    # ---- vector side: exact cosine ranks for the 5 query vectors
    vr = (
        similarity.brute_force_topk(
            emb, emb.where(F.col("vec_id") < 5), k=K
        )
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("rank_v"),
        )
    )

    tr = _bm25_query_ranks(docs, K)

    # ---- reciprocal rank fusion over the union of the two lists
    fused = (
        tr.join(vr, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rank_t")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rank_v")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= TOP)
        .select("query_id", "doc_id", F.col("rrf"), "rank")
    )


HYBRID_SEARCH_SQL = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
), dl AS (
  SELECT doc_id, len(a) AS dl FROM tok
), hits AS (
  SELECT doc_id, u.t AS term FROM tok, LATERAL (SELECT unnest(a) AS t) u
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
), qterms AS (
  SELECT doc_id AS query_id, unnest(list_distinct(a)) AS term
  FROM tok WHERE doc_id < 5
), scores AS (
  SELECT q.query_id, t.doc_id,
         round(CAST(sum(
           ln((n - df + 0.5) / (df + 0.5) + 1) * tf * ({_BM25_K1} + 1)
           / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
         ) AS DOUBLE), 4) AS s
  FROM tf t
  JOIN qterms q USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN stats
  WHERE t.doc_id <> q.query_id
  GROUP BY 1, 2
), tr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank_t
  FROM scores QUALIFY rank_t <= 20
), vr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank_v
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])) AS cos
    FROM embeddings q JOIN embeddings c
      ON q.vec_id < 5 AND c.vec_id <> q.vec_id
  ) QUALIFY rank_v <= 20
), fused AS (
  SELECT coalesce(t.query_id, v.query_id) AS query_id,
         coalesce(t.doc_id, v.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + t.rank_t), 0)
               + coalesce(1.0 / (60 + v.rank_v), 0), 6) AS rrf
  FROM tr t FULL OUTER JOIN vr v
    ON t.query_id = v.query_id AND t.doc_id = v.doc_id
)
SELECT query_id, doc_id, rrf,
       row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
FROM fused
QUALIFY rank <= 10
"""


def _gram_join(a, start: int, n: int):
    """n-gram strings from token array slice starting at `start` (1-based)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(a) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(a, i, n)),
    )


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1): type-token ratio, top-2-gram occupancy (count of the most
    frequent 2-gram over all 2-grams), and the fraction of 5-gram
    instances whose gram repeats within the doc.

    Scale shape: MAP-ONLY — per-doc counts come from sort_array + one
    F.aggregate pass over the sorted grams (run-length scan, O(k log k)
    per doc), not an explode+groupBy that would shuffle every token.
    Zero Exchange in the plan. Grams are xxhash64'd to longs BEFORE the
    sort, so the sort and the run-length equality compare 8-byte ints
    instead of 5-gram strings (equal-count semantics are collision-free
    for any realistic per-doc gram count: ~1e-12 at 5k grams/doc)."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = text.tokens(F.col("text"))

    def max_run(arr):
        # longest equal-run in sorted array == max per-gram count
        fin = F.aggregate(
            F.sort_array(arr),
            F.struct(
                F.lit(None).cast("bigint").alias("prev"),
                F.lit(0).alias("cur"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.cur + 1).otherwise(F.lit(1)).alias("cur"),
                F.greatest(
                    acc.best,
                    F.when(x == acc.prev, acc.cur + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
        )
        return fin.getField("best")

    def dup_instances(arr):
        # tokens covered by grams occurring >= 2 times = n - (# singleton runs)
        fin = F.aggregate(
            F.sort_array(arr),
            F.struct(
                F.lit(None).cast("bigint").alias("prev"),
                F.lit(0).alias("cur"),
                F.lit(0).alias("singles"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.cur + 1).otherwise(F.lit(1)).alias("cur"),
                (
                    acc.singles
                    + F.when((x != acc.prev) & (acc.cur == 1), 1).otherwise(0)
                ).alias("singles"),
            ),
        )
        singles = fin.getField("singles") + F.when(
            fin.getField("cur") == 1, 1
        ).otherwise(0)
        return F.size(arr) - singles

    def hashed(grams):
        return F.transform(grams, lambda g: F.xxhash64(g))

    g2 = hashed(_gram_join(F.col("a"), 1, 2))
    g5 = hashed(_gram_join(F.col("a"), 1, 5))
    return (
        docs.select("doc_id", toks.alias("a"))
        .select(
            "doc_id",
            F.size("a").alias("n_tokens"),
            F.round(F.size(F.array_distinct("a")) / F.size("a"), 4).alias("ttr"),
            F.when(
                F.size("a") >= 2,
                F.round(max_run(g2) / (F.size("a") - 1), 4),
            ).alias("top2_frac"),
            F.when(
                F.size("a") >= 5,
                F.round(dup_instances(g5) / (F.size("a") - 4), 4),
            ).alias("dup5_frac"),
        )
    )


DOC_REPETITION_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(a)),
         i -> array_to_string(a[i:i+1], ' '))) AS g
  FROM tok WHERE len(a) >= 2
), g5 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(a) - 3),
         i -> array_to_string(a[i:i+4], ' '))) AS g
  FROM tok WHERE len(a) >= 5
), c2 AS (
  SELECT doc_id, max(c) AS top2, sum(c) AS tot2
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1
), c5 AS (
  SELECT doc_id,
         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup5, sum(c) AS tot5
  FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1
)
SELECT t.doc_id,
       len(a) AS n_tokens,
       round(CAST(len(list_distinct(a)) AS DOUBLE) / len(a), 4) AS ttr,
       round(CAST(c2.top2 AS DOUBLE) / c2.tot2, 4) AS top2_frac,
       round(CAST(c5.dup5 AS DOUBLE) / c5.tot5, 4) AS dup5_frac
FROM tok t
LEFT JOIN c2 ON c2.doc_id = t.doc_id
LEFT JOIN c5 ON c5.doc_id = t.doc_id
"""


def domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution from
    the corpus distribution — the standard domain-skew signal when mixing
    training-data sources (cf. DoReMi / data-mixture papers).

    Scale shape: one (source, token)-keyed count shuffle; corpus counts
    and source totals derive from it (ReusedExchange); the corpus total
    folds in as a broadcast one-row frame; final agg is per-source (tiny).
    Documents never shuffle — only (source, token, count) triples."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    corpus = cnt.groupBy("w").agg(F.sum("c").alias("cw"))
    src_tot = cnt.groupBy("source").agg(F.sum("c").alias("ns"))
    n_tot = src_tot.agg(F.sum("ns").cast("double").alias("n"))
    p_s = F.col("c").cast("double") / F.col("ns")
    p_c = F.col("cw").cast("double") / F.col("n")
    return (
        cnt.join(F.broadcast(src_tot), "source")
        .join(corpus, "w")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("source")
        .agg(
            F.first("ns").cast("long").alias("n_tokens"),
            F.round(F.sum(p_s * F.log(p_s / p_c)), 4).alias("kl"),
        )
    )


DOMAIN_KL_SQL = r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
), corpus AS (
  SELECT w, sum(c) AS cw FROM cnt GROUP BY 1
), src_tot AS (
  SELECT source, sum(c) AS ns FROM cnt GROUP BY 1
), tot AS (
  SELECT CAST(sum(ns) AS DOUBLE) AS n FROM src_tot
)
SELECT cnt.source,
       CAST(first(ns) AS BIGINT) AS n_tokens,
       round(sum((CAST(c AS DOUBLE) / ns)
                 * ln((CAST(c AS DOUBLE) / ns) / (CAST(cw AS DOUBLE) / n))),
             4) AS kl
FROM cnt
JOIN src_tot USING (source)
JOIN corpus USING (w)
CROSS JOIN tot
GROUP BY 1
"""


def vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against a corpus-derived
    vocabulary (top 1000 tokens with count >= 5, ties broken by token) —
    the coverage check run before committing to a tokenizer vocab.

    Scale shape: vocabulary = token-keyed count agg + TakeOrdered top-K,
    then BROADCAST into the per-token probe (no vocab-side shuffle);
    the only other exchange groups (doc_id, flag) pairs. The vocab is a
    lazy subplan — no driver collect during query build."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 5)
        .orderBy(F.desc("c"), "w")
        .limit(1000)
        .select("w", F.lit(1).alias("__in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
    )


VOCAB_OOV_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM tok GROUP BY 1
  ) WHERE c >= 5
  ORDER BY c DESC, w
  LIMIT 1000
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(CAST(count(*) FILTER (WHERE v.w IS NULL) AS DOUBLE) / count(*),
             4) AS oov_rate
FROM tok LEFT JOIN vocab v USING (w)
GROUP BY 1
"""


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling log-weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): per-doc
    log w(x) = Σ_tokens [ln p_target(w) − ln p_raw(w)] under add-one
    smoothed unigram models, target = the `src0` source slice, raw = the
    whole corpus. The op a pretraining pipeline runs to up-sample data
    that looks like a trusted target domain.

    Scale shape: ONE token-keyed shuffle builds BOTH models (conditional
    aggregation — c_raw and c_tgt in the same groupBy, no second pass);
    the smoothing totals fold in as a broadcast one-row frame (the
    bigram_pmi pattern, no driver collect); the per-doc sum equi-joins
    the exploded tokens against the count table with NO broadcast hint
    — a whitespace-token "vocab" over raw web text keeps growing under
    Heaps' law (URLs, ids, numbers push it to 1e8-1e9 distinct tokens
    at 100 TB), so the model join must be a shuffled hash join on `w`;
    AQE broadcasts it at runtime when it is actually small (it is at
    test SFs). The (doc, token) stream's own agg is map-side partial +
    one shuffle of per-doc partials."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    cnt = toks.groupBy("w").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("c_tgt"),
    )
    tot = cnt.agg(
        F.sum("c_raw").cast("double").alias("R"),
        F.sum("c_tgt").cast("double").alias("T"),
        F.count(F.lit(1)).cast("double").alias("V"),
    )
    return (
        toks.join(cnt, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0 normalizes IEEE negative zero: a doc whose ratio sum
            # rounds to zero from below would otherwise repr as -0.0 on
            # one engine and 0.0 on the other (seen at sf0.1, doc 3533)
            (
                F.round(
                    F.sum(
                        F.log(
                            (F.col("c_tgt") + 1.0) / (F.col("T") + F.col("V"))
                        )
                        - F.log(
                            (F.col("c_raw") + 1.0) / (F.col("R") + F.col("V"))
                        )
                    ),
                    4,
                )
                + 0.0
            ).alias("dsir_logw"),
        )
    )


DSIR_WEIGHTS_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT w,
         count(*) AS c_raw,
         count(*) FILTER (WHERE source = 'src0') AS c_tgt
  FROM tok JOIN (SELECT doc_id, source FROM documents) USING (doc_id)
  GROUP BY w
), tot AS (
  SELECT CAST(sum(c_raw) AS DOUBLE) AS R,
         CAST(sum(c_tgt) AS DOUBLE) AS T,
         CAST(count(*) AS DOUBLE) AS V
  FROM cnt
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(sum(ln((c_tgt + 1.0) / (T + V)) - ln((c_raw + 1.0) / (R + V))),
             4) + 0.0 AS dsir_logw
FROM tok JOIN cnt USING (w), tot
GROUP BY doc_id
"""


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier scores: cosine distance of each vector
    to its label centroid, z-scored within the label (population stddev).
    The curation op that flags mislabeled / off-distribution examples in
    an embedded training set.

    Scale shape: centroids come from a posexplode + (label, pos) agg —
    map-side partial aggregation reduces each partition to |labels|×d
    rows before the ONE shuffle; centroids reassemble via sorted
    collect_list into a |labels|-row frame that BROADCASTS back into a
    one-pass corpus scan (distance is a JVM HOF dot product, no UDF);
    per-label μ/σ of the distance is a second |labels|-row broadcast.
    The embedding column itself never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    cen = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    )
    scored = emb.join(F.broadcast(cen), "label").select(
        "vec_id",
        "label",
        (1.0 - similarity.cosine(F.col("embedding"), F.col("centroid"))).alias(
            "__dist"
        ),
    )
    stats = scored.groupBy("label").agg(
        F.avg("__dist").alias("mu"),
        F.stddev_pop("__dist").alias("sigma"),
    )
    return scored.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        F.round(F.col("__dist"), 4).alias("dist"),
        F.round(
            F.when(
                F.col("sigma") > 0,
                (F.col("__dist") - F.col("mu")) / F.col("sigma"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("z"),
    )


EMB_OUTLIERS_SQL = r"""
WITH e AS (
  SELECT vec_id, label,
         CAST(u.x AS DOUBLE) AS x,
         u.i
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) u
), cen AS (
  SELECT label, i, avg(x) AS m FROM e GROUP BY 1, 2
), d AS (
  SELECT vec_id, e.label,
         1.0 - sum(e.x * c.m)
               / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.m * c.m))) AS dist
  FROM e JOIN cen c ON e.label = c.label AND e.i = c.i
  GROUP BY 1, 2
), st AS (
  SELECT label, avg(dist) AS mu, stddev_pop(dist) AS sigma
  FROM d GROUP BY 1
)
SELECT vec_id, d.label,
       round(dist, 4) AS dist,
       round(CASE WHEN sigma > 0 THEN (dist - mu) / sigma ELSE 0.0 END,
             4) AS z
FROM d JOIN st ON d.label = st.label
"""


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of the doc's DISTINCT 5-grams
    that appear in no other document — the inverse of the cross-doc
    boilerplate signal (Lee et al. 2022 dedup analyses rank docs by how
    much of their content is corpus-unique).

    Scale shape: grams are xxhash64'd to longs map-side, so the ONE
    gram-keyed shuffle (df count) and the gram-keyed join back carry
    8-byte keys, not ~30-byte strings; the per-doc fraction is a
    doc-keyed agg with map-side partials. Gram-hash collisions merge
    distinct grams with probability ~n²/2^64 (~1e-8 at 1e5 grams) —
    the standard content-defined-dedup trade, noted here because the
    oracle compares exactly."""
    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select("doc_id", text.tokens(F.col("text")).alias("a"))
        .where(F.size("a") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(_gram_join(F.col("a"), 1, 5), lambda g: F.xxhash64(g))
                )
            ).alias("g"),
        )
    )
    dfreq = g.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        g.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("novelty"),
        )
    )


NGRAM_NOVELTY_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(a) - 3),
                i -> array_to_string(a[i:i+4], ' '))) AS g
  FROM tok WHERE len(a) >= 5
), dfreq AS (
  SELECT g, count(*) AS df FROM g GROUP BY 1
)
SELECT doc_id,
       count(*) AS n_grams,
       round(CAST(count(*) FILTER (WHERE df = 1) AS DOUBLE) / count(*),
             4) AS novelty
FROM g JOIN dfreq USING (g)
GROUP BY 1
"""


def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 5-gram Jaccard overlap BETWEEN sources — the
    contamination/provenance matrix a curation pipeline computes before
    mixing corpora (which crawls duplicate which dumps).

    Scale shape: ONE shuffle builds the distinct (source, gram-hash)
    set; the per-gram source set is collected (bounded by the source
    count, not the corpus) and exploded into pairs; per-source set
    sizes fold in as a broadcast |sources|-row frame joined twice.
    Gram strings never shuffle — xxhash64 longs do."""
    docs = _t(spark, sf_dir, "documents")
    sg = (
        docs.select("source", text.tokens(F.col("text")).alias("a"))
        .where(F.size("a") >= 5)
        .select(
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(_gram_join(F.col("a"), 1, 5), lambda g: F.xxhash64(g))
                )
            ).alias("g"),
        )
        .distinct()
    )
    sz = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    per_gram = sg.groupBy("g").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ss"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ss"), i + 2, F.size("ss")),
                        lambda b: F.struct(a.alias("sa"), b.alias("sb")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.sa", "p.sb")
    inter = pairs.groupBy("sa", "sb").agg(F.count(F.lit(1)).alias("i"))
    a_sz = sz.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    b_sz = sz.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(a_sz), "sa")
        .join(F.broadcast(b_sz), "sb")
        .select(
            "sa",
            "sb",
            F.col("i").alias("common_grams"),
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4).alias(
                "jaccard"
            ),
        )
    )


CROSS_SOURCE_OVERLAP_SQL = r"""
WITH tok AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), sg AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, len(a) - 3),
                i -> array_to_string(a[i:i+4], ' '))) AS g
  FROM tok WHERE len(a) >= 5
), sz AS (
  SELECT source, count(*) AS n FROM sg GROUP BY 1
), ix AS (
  SELECT x.source AS sa, y.source AS sb, count(*) AS i
  FROM sg x JOIN sg y ON x.g = y.g AND x.source < y.source
  GROUP BY 1, 2
)
SELECT sa, sb,
       i AS common_grams,
       round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 4) AS jaccard
FROM ix JOIN sz za ON ix.sa = za.source
        JOIN sz zb ON ix.sb = zb.source
"""


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
    the MOSS algorithm): md5 each 5-gram, slide a w=4 window over the
    gram-hash sequence, keep each window's minimum, emit the distinct
    set per doc — the guarantee is any shared substring of length
    >= 5+4-1 tokens produces at least one shared fingerprint, at ~2/w
    of the gram count. The local-fingerprint primitive plagiarism /
    near-dup span detection builds on.

    Scale shape: MAP-ONLY — grams, hashes, window minima, and the
    distinct-set all happen inside one projection over the doc row
    (transform/slice/array_min/array_distinct, no UDF); only the final
    (doc_id, fp) explode leaves the row. md5 (not xxhash64) so the
    DuckDB oracle computes the IDENTICAL fingerprints — lexicographic
    min over identical hex strings."""
    W = 4
    docs = _t(spark, sf_dir, "documents")
    h = F.transform(_gram_join(F.col("a"), 1, 5), lambda g: F.md5(g))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("h")) - (W - 1)),
            lambda i: F.array_min(F.slice(F.col("h"), i, W)),
        )
    )
    # short docs emit an EMPTY array (explode drops them) instead of a
    # .where on a computed column — size(tokens(text)) can't push to the
    # parquet scan, and sequence(1, n) with n < 1 would run DESCENDING
    return (
        docs.select("doc_id", text.tokens(F.col("text")).alias("a"))
        .select(
            "doc_id",
            F.when(F.size("a") >= 5 + W - 1, h).otherwise(
                F.array().cast("array<string>")
            ).alias("h"),
        )
        .select(
            "doc_id",
            F.explode(
                F.when(F.size("h") >= W, fps).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("fp"),
        )
    )


WINNOW_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(a) - 3),
                          i -> array_to_string(a[i:i+4], ' ')),
           s -> md5(s)) AS h
  FROM tok WHERE len(a) >= 8
)
SELECT DISTINCT doc_id,
       unnest(list_transform(range(1, len(h) - 2),
              i -> list_min(h[i:i+3]))) AS fp
FROM g
"""


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    source, split documents into head / middle / tail by the tertiles
    of their bigram-LM perplexity — the mixture knob CCNet uses to
    up-sample fluent text per language/source shard.

    Scale shape: per-source tertile CUT POINTS come from a TWO-LEVEL
    exact computation with bounded state — (1) a (source, rounded-ppl)
    count histogram (every agg buffer is one scalar count; a plain
    `percentile` agg would buffer a per-source value->count map whose
    size scales with the source's distinct-ppl count, ~1e7-1e8 entries
    in one in-memory buffer at 100 TB), (2) a per-source cumulative sum
    over the histogram (a window SORT, which spills to disk, over
    distinct values only) locates the two p*(n-1) index positions and
    linearly interpolates exactly like Spark `percentile` / DuckDB
    `quantile_cont` (lower + frac*(upper - lower) on doubles). The
    |sources|-row cut frame broadcasts back and the bucket label is a
    map-side comparison — deliberately NOT a per-source ntile window,
    whose total order would send every doc of one source through one
    reducer at 100 TB. Cuts and the comparison use the ROUNDED ppl so
    the DuckDB oracle lands on identical buckets."""
    ppl = lm_perplexity(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # persist the tiny (doc_id, source, ppl) frame: it feeds BOTH the
    # histogram/cut branch and the final bucket join, and without the
    # cache the whole bigram-LM subtree executes twice (4 FileScans ->
    # 2). |docs| rows x 3 scalars — disk-spillable at any corpus size.
    j = scoped_persist(ppl.join(src, "doc_id"))
    hist = j.groupBy("source", "ppl").agg(F.count(F.lit(1)).alias("cnt"))
    wsrc = Window.partitionBy("source").orderBy("ppl")
    cum = (
        hist.withColumn("hi", F.sum("cnt").over(wsrc))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
    )
    n = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    # index positions for p in {1/3, 2/3}: pos = p*(n-1); the value at
    # global 0-based index i lives on the histogram row with lo <= i < hi
    cum = cum.join(F.broadcast(n), "source")

    def _cut(p: float, tag: str):
        pos = F.lit(p) * (F.col("n") - 1).cast("double")
        ilo, ihi = F.floor(pos), F.ceil(pos)
        return [
            F.max(
                F.when((F.col("lo") <= ilo) & (ilo < F.col("hi")), F.col("ppl"))
            ).alias(f"vlo_{tag}"),
            F.max(
                F.when((F.col("lo") <= ihi) & (ihi < F.col("hi")), F.col("ppl"))
            ).alias(f"vhi_{tag}"),
            F.max(pos - F.floor(pos).cast("double")).alias(f"frac_{tag}"),
        ]

    q = (
        cum.groupBy("source")
        .agg(*_cut(1.0 / 3, "1"), *_cut(2.0 / 3, "2"))
        .select(
            "source",
            (F.col("vlo_1") + F.col("frac_1") * (F.col("vhi_1") - F.col("vlo_1"))).alias("q1"),
            (F.col("vlo_2") + F.col("frac_2") * (F.col("vhi_2") - F.col("vlo_2"))).alias("q2"),
        )
    )
    return j.join(F.broadcast(q), "source").select(
        "doc_id",
        "source",
        "ppl",
        F.when(F.col("ppl") <= F.col("q1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("q2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


CCNET_BUCKETS_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
), bg AS (
  SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
  WHERE len(a) >= 2
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c) AS ctx FROM c12 GROUP BY 1
), ppl AS (
  SELECT bg.doc_id,
         round(CAST(exp(-avg(ln(CAST(c12.c AS DOUBLE) / c1.ctx))) AS DOUBLE),
               4) AS ppl
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY 1
), j AS (
  SELECT p.doc_id, d.source, p.ppl
  FROM ppl p JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
), q AS (
  SELECT source,
         quantile_cont(ppl, 1.0/3) AS q1,
         quantile_cont(ppl, 2.0/3) AS q2
  FROM j GROUP BY 1
)
SELECT doc_id, j.source, ppl,
       CASE WHEN ppl <= q1 THEN 'head'
            WHEN ppl <= q2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j JOIN q ON j.source = q.source
"""


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent: OLS slope of ln(freq) on ln(rank) over
    the top-1000 token ranks — the corpus-health fingerprint (natural
    language sits near -1; machine-generated or template-heavy sources
    drift flatter), the quick screen a mixture pipeline runs per crawl.

    Scale shape: one (source, token) shuffle builds the counts; the
    top-1000 cut is the same TWO-PHASE rank brute_force_topk uses
    (local top-1000 per scan partition first, so no reducer holds a
    source's whole vocabulary); the regression is a per-source
    aggregate over <= 1000 rows via built-in regr_slope. Ranks
    tie-break (count desc, token asc) in both engines so the cut is
    identical."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    order = (F.desc("c"), F.asc("w"))
    w1 = Window.partitionBy("source", "__pid").orderBy(*order)
    w2 = Window.partitionBy("source").orderBy(*order)
    ranked = (
        cnt.withColumn("__pid", F.spark_partition_id())
        .withColumn("__pr", F.row_number().over(w1))
        .where(F.col("__pr") <= 1000)
        .drop("__pid", "__pr")
        .withColumn("r", F.row_number().over(w2))
        .where(F.col("r") <= 1000)
    )
    return ranked.groupBy("source").agg(
        F.round(
            F.regr_slope(F.log(F.col("c").cast("double")), F.log("r")), 4
        ).alias("zipf_slope"),
        F.count(F.lit(1)).alias("n_ranks"),
    )


ZIPF_SLOPE_SQL = r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
), rk AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS r
  FROM cnt
)
SELECT source,
       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))),
             4) AS zipf_slope,
       count(*) AS n_ranks
FROM rk WHERE r <= 1000
GROUP BY 1
"""


def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN top-k: asymmetric-distance shortlist over the 8-byte code
    rows + exact cosine re-rank of the top-100 candidates per query
    (Jegou et al. 2011 §IV). Rows-only for the driver (iterative
    codebooks); the recall gate (>= 0.8 @5 vs brute force; measured
    0.92 on the worst-case random synthetic embeddings) lives in
    tests/test_quality.py.

    Scale shape: see operators/similarity.py::pq_topk — map-only
    Arrow-batched LUT scoring over codes (32x smaller than vectors),
    two-phase top-shortlist (no single-reducer stage), re-rank touches
    only |Q| x 100 vectors via broadcast semi-join."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate telemetry: a doc is a duplicate copy
    when another doc with the SAME md5(text) has a smaller doc_id (the
    canonical keep-first convention dedup_exact uses). Reports each
    source's doc count, duplicate-copy count and rate — the per-crawl
    number a curation pipeline tracks to decide which sources to
    re-fetch vs down-weight.

    Scale shape: ONE digest-keyed shuffle (min doc_id per md5 — text
    itself never shuffles, digests do) broadcast back? No: the join is
    digest-keyed too, so the exchange is REUSED; the per-source rollup
    is a |sources|-row agg with map-side partials."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", F.md5("text").alias("h"))
    canon = d.groupBy("h").agg(F.min("doc_id").alias("keep"))
    return (
        d.join(canon, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("doc_id") != F.col("keep"), 1).otherwise(0)).alias(
                "dup_copies"
            ),
            F.round(
                F.sum(F.when(F.col("doc_id") != F.col("keep"), 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_rate"),
        )
    )


SOURCE_DUP_RATES_SQL = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
), canon AS (
  SELECT h, min(doc_id) AS keep FROM d GROUP BY 1
)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE doc_id <> keep) AS dup_copies,
       round(CAST(count(*) FILTER (WHERE doc_id <> keep) AS DOUBLE)
             / count(*), 4) AS dup_rate
FROM d JOIN canon USING (h)
GROUP BY 1
"""


def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log2-bucketed document-length histogram (the
    sequence-length telemetry that sizes packing windows and context
    budgets): bucket = floor(log2(n_tokens)), with doc counts and the
    bucket's token share.

    Scale shape: MAP-ONLY projection (tokenize + size + log2) feeding a
    (source, bucket) agg — bounded output (|sources| x ~20 buckets),
    map-side partials absorb everything."""
    docs = _t(spark, sf_dir, "documents")
    n = F.size(text.tokens(F.col("text")))
    return (
        docs.select("source", n.alias("n"))
        .groupBy("source", F.floor(F.log2("n")).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("tokens"),
        )
    )


TOKEN_LEN_HIST_SQL = r"""
WITH t AS (
  SELECT source,
         len(string_split_regex(trim(lower(text)), '\s+')) AS n
  FROM documents
)
SELECT source,
       CAST(floor(log2(n)) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS tokens
FROM t
GROUP BY 1, 2
"""


def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ ANN (the FAISS IVFADC layout): coarse k-means cells +
    residual product quantization; queries probe 8 of 16 cells, score
    candidates by asymmetric distance over the 8-byte code rows, and
    exact-rerank the top-200. Rows-only for the driver (iterative
    codebooks); recall gate >= 0.8 @5 vs brute force (measured 0.90 at
    sf0.001 / 0.86 at sf0.01 on worst-case random embeddings) in
    tests/test_quality.py.

    Scale shape: see operators/similarity.py::ivf_pq_topk — the index
    frame is (id, cell, codes), candidates come from a broadcast hash
    join on the cell key (the corpus never explodes), and vectors are
    touched only in the |Q| x 200 re-rank."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_probe=8, shortlist=200
    )


def pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embedding corpus (Jegou,
    Douze & Schmid 2011): each 64-dim vector -> 8 codebook indices
    (32x compression) + reconstruction cosine. Rows-only for the driver
    (k-means codebooks are iterative, not SQL-expressible); the numeric
    gate lives in tests/test_quality.py::
    test_pq_codes_deterministic_and_beats_single_codebook
    (deterministic codes; avg recon_cos beats the
    m=1 single-codebook baseline and the 0.6 floor).

    Scale shape: see operators/similarity.py::pq_codes — bounded
    driver-side codebook fit, MAP-ONLY Arrow-batched encoding.

    The 8 per-subspace code indices are emitted as one scalar string
    ('-'-joined) rather than array<int>: the driver's rows-only
    canonicalizer sorts the frame with pandas, which cannot factorize a
    list column (the r10 red row). The QUALITY gate keeps asserting on
    the decoded array form via pq_codes directly."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.pq_codes(emb)
    return out.select(
        "vec_id",
        F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes"),
        "recon_cos",
    )


# --------------------------------------------------------------------------
# r10 additions: entropy/LM/vocab-growth corpus diagnostics, count-min
# sketch, weighted sampling, hard-negative mining, MRL truncation eval
# --------------------------------------------------------------------------


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy + type-token
    ratio — the cheap repetitiveness screen a curation pipeline runs
    before the expensive LM scorers (a doc whose tokens concentrate on
    a few types has low entropy; spam/template text lands here first).

    Scale shape: MAP-ONLY — the entropy is computed inside one
    projection with array HOFs over each row's own token array
    (distinct-types x tokens comparisons per row, bounded by doc
    length), so NOTHING shuffles; the filter flag is a literal
    comparison. At 100 TB this is a single scan with full codegen."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    return (
        # n_chars > 0 guards empty docs with a SCAN-column comparison the
        # parquet reader pushes down (a size(a) >= 1 post-split filter
        # can't push; split of a trimmed non-empty string is never empty)
        docs.where(F.col("n_chars") > 0)
        .select("doc_id", text.tokens(F.col("text")).alias("a"))
        .select(
            "doc_id",
            F.round(
                F.expr(
                    "aggregate(transform(array_distinct(a),"
                    " t -> size(filter(a, x -> x = t)) / cast(size(a) as double)),"
                    " 0D, (acc, p) -> acc - p * ln(p))"
                ),
                4,
            ).alias("token_entropy"),
            F.round(
                F.size(F.array_distinct(F.col("a")))
                / F.size(F.col("a")).cast("double"),
                4,
            ).alias("ttr"),
        )
        .withColumn("low_entropy", F.col("token_entropy") < 3.0)
    )


CHAR_ENTROPY_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents WHERE n_chars > 0
), e AS (
  SELECT doc_id,
         round(CAST(-list_sum(list_transform(
             list_transform(list_distinct(a),
                            t -> len(list_filter(a, x -> x = t))
                                 / CAST(len(a) AS DOUBLE)),
             p -> p * ln(p))) AS DOUBLE), 4) AS token_entropy,
         round(len(list_distinct(a)) / CAST(len(a) AS DOUBLE), 4) AS ttr
  FROM tok
)
SELECT doc_id, token_entropy, ttr, token_entropy < 3.0 AS low_entropy
FROM e
"""


def stupid_backoff_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram Stupid-Backoff score (Brants et al. 2007,
    "Large Language Models in Machine Translation": S(w3|w1w2) =
    c123/c12, backing off to 0.4*c23/c2, then 0.4^2*c3/N; unseen
    unigrams floor at 0.4^2/N) with the model trained on the EVEN
    doc_ids only — the held-out odd docs genuinely exercise the backoff
    chain, which is the point of the scheme at web scale. Reported as
    sbo_ppl = exp(-mean ln S): the distribution-shift screen that beats
    the self-trained bigram `lm_perplexity` at flagging out-of-domain
    shards.

    Scale shape: counts build from the training half in n-gram-keyed
    shuffles; scoring left-joins the exploded trigram stream against the
    count tables with NO broadcast hints — distinct trigram AND bigram
    types grow near-linearly with web-scale corpora, and even the
    whitespace-token unigram "vocab" keeps growing under Heaps' law
    (URLs, ids, numbers), so every model join is a shuffled hash join
    on its n-gram key; AQE converts any side that is actually small
    (all of them at test SFs) to a broadcast join at runtime. Only
    (doc, w1, w2, w3) tuples move; the doc text never shuffles. The
    one-row (N) frame stays an explicit broadcast cross join — it is
    genuinely bounded at one row."""
    docs = _t(spark, sf_dir, "documents")
    # persisted (r16): the token frame feeds FIVE subtrees (trigram
    # stream x2, bigram stream, unigram stream x2) — the tokenization
    # ran five times without the cache; (long, bool, array<word>) rows,
    # disk-spillable
    tok = scoped_persist(
        docs.select(
            "doc_id",
            (F.col("doc_id") % 2 == 0).alias("train"),
            text.tokens(F.col("text")).alias("a"),
        ).where(F.size("a") >= 3)
    )
    tri = tok.select(
        "doc_id",
        "train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 2),"
                " i -> struct(a[i-1] as w1, a[i] as w2, a[i+1] as w3))"
            )
        ).alias("z"),
    ).select("doc_id", "train", "z.w1", "z.w2", "z.w3")
    bg = tok.select(
        "train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(a[i-1] as w1, a[i] as w2))"
            )
        ).alias("z"),
    ).select("train", "z.w1", "z.w2")
    un = tok.select("train", F.explode("a").alias("w"))

    c123 = (
        tri.where("train")
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
    )
    c12 = (
        bg.where("train")
        .groupBy(F.col("w1").alias("b1"), F.col("w2").alias("b2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = (
        un.where("train").groupBy(F.col("w").alias("u1"))
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n_tot = un.where("train").agg(
        F.count(F.lit(1)).cast("double").alias("n_tot")
    )

    scored = (
        tri.join(c123, ["w1", "w2", "w3"], "left")
        .join(
            c12,
            (F.col("w1") == F.col("b1")) & (F.col("w2") == F.col("b2")),
            "left",
        )
        .join(
            c12.toDF("q2", "q3", "c23"),
            (F.col("w2") == F.col("q2")) & (F.col("w3") == F.col("q3")),
            "left",
        )
        .join(c1.toDF("u2", "c2"), F.col("w2") == F.col("u2"), "left")
        .join(c1.toDF("u3", "c3"), F.col("w3") == F.col("u3"), "left")
        .crossJoin(F.broadcast(n_tot))
    )
    s = (
        F.when(
            F.col("c123").isNotNull(),
            F.col("c123").cast("double") / F.col("c12"),
        )
        .when(
            F.col("c23").isNotNull(),
            0.4 * F.col("c23").cast("double") / F.col("c2"),
        )
        .when(
            F.col("c3").isNotNull(),
            0.16 * F.col("c3").cast("double") / F.col("n_tot"),
        )
        .otherwise(0.16 / F.col("n_tot"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.exp(-F.avg(F.log(s))), 4).alias("sbo_ppl")
    )


STUPID_BACKOFF_SQL = r"""
WITH tok AS (
  SELECT doc_id, doc_id % 2 = 0 AS train,
         string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), tok3 AS (
  SELECT * FROM tok WHERE len(a) >= 3
), tri AS (
  SELECT doc_id, train, u.z[1] AS w1, u.z[2] AS w2, u.z[3] AS w3
  FROM tok3, LATERAL (
    SELECT unnest(list_zip(a[1:len(a)-2], a[2:len(a)-1], a[3:])) AS z) u
), bg AS (
  SELECT train, u.z[1] AS w1, u.z[2] AS w2
  FROM tok3, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
), un AS (
  SELECT train, u.w AS w FROM tok3, LATERAL (SELECT unnest(a) AS w) u
), c123 AS (
  SELECT w1, w2, w3, count(*) AS c123 FROM tri WHERE train GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg WHERE train GROUP BY 1, 2
), c1 AS (
  SELECT w, count(*) AS c1 FROM un WHERE train GROUP BY 1
), n_tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_tot FROM un WHERE train
)
SELECT doc_id,
       round(CAST(exp(-avg(ln(
         CASE
           WHEN c123.c123 IS NOT NULL
             THEN CAST(c123.c123 AS DOUBLE) / b12.c12
           WHEN b23.c12 IS NOT NULL
             THEN 0.4 * CAST(b23.c12 AS DOUBLE) / u2.c1
           WHEN u3.c1 IS NOT NULL
             THEN 0.16 * CAST(u3.c1 AS DOUBLE) / n_tot
           ELSE 0.16 / n_tot
         END))) AS DOUBLE), 4) AS sbo_ppl
FROM tri
LEFT JOIN c123 USING (w1, w2, w3)
LEFT JOIN c12 b12 ON tri.w1 = b12.w1 AND tri.w2 = b12.w2
LEFT JOIN c12 b23 ON tri.w2 = b23.w1 AND tri.w3 = b23.w2
LEFT JOIN c1 u2 ON tri.w2 = u2.w
LEFT JOIN c1 u3 ON tri.w3 = u3.w
CROSS JOIN n_tot
GROUP BY 1
"""


def heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Heaps'-law exponent (Heaps 1978: vocabulary grows as
    V = K * N^beta, beta ~0.4-0.6 for natural language): OLS slope of
    ln V on ln N over doc_id-prefix checkpoints — a corpus whose beta
    collapses toward 0 is template/boilerplate-dominated; one drifting
    toward 1 is ID/hash noise. The crawl-health twin of `zipf_slope`.

    Scale shape: checkpoints are a FIXED power-of-two doc_id lattice, so
    both V and N come from conditional aggregations with NO per-source
    total order (the naive cumulative-distinct needs a per-source
    ordered window = one reducer per source at 100 TB). V(thr) = count
    of tokens whose FIRST doc_id <= thr — one (source, token)-keyed
    shuffle bounded by vocab size; N(thr) = conditional sums over the
    per-doc count frame. The lattice caps at 2*max(doc_id) via a
    broadcast one-row max (lint: ALLOWED one-row broadcast), keeping
    every checkpoint informative; the regression input is
    |sources| x |lattice| rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.explode(text.tokens(F.col("text"))).alias("tk")
    )
    firstdoc = toks.groupBy("source", "tk").agg(F.min("doc_id").alias("fd"))
    docn = toks.groupBy("source", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    maxid = docs.agg(F.max("doc_id").alias("mx"))

    thr = F.explode(
        F.array(*[F.lit(2 ** k) for k in range(4, 31)])
    ).alias("thr")
    v = (
        firstdoc.select("source", "fd")
        .crossJoin(F.broadcast(maxid))
        .select("source", "fd", thr, "mx")
        .where((F.col("fd") <= F.col("thr")) & (F.col("thr") <= 2 * F.col("mx")))
        .groupBy("source", "thr")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    n = (
        docn.crossJoin(F.broadcast(maxid))
        .select("source", "doc_id", "n", thr, "mx")
        .where(
            (F.col("doc_id") <= F.col("thr")) & (F.col("thr") <= 2 * F.col("mx"))
        )
        .groupBy("source", "thr")
        .agg(F.sum("n").alias("n"))
    )
    return (
        v.join(n, ["source", "thr"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("points"),
            F.round(
                F.regr_slope(F.log(F.col("v").cast("double")),
                             F.log(F.col("n").cast("double"))),
                4,
            ).alias("heaps_beta"),
        )
    )


HEAPS_LAW_SQL = r"""
WITH toks AS (
  SELECT source, doc_id, u.tk AS tk
  FROM (SELECT source, doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS a
        FROM documents) t,
  LATERAL (SELECT unnest(a) AS tk) u
), firstdoc AS (
  SELECT source, tk, min(doc_id) AS fd FROM toks GROUP BY 1, 2
), docn AS (
  SELECT source, doc_id, count(*) AS n FROM toks GROUP BY 1, 2
), maxid AS (
  SELECT max(doc_id) AS mx FROM documents
), lattice AS (
  SELECT unnest([power(2, k)::BIGINT FOR k IN range(4, 31)]) AS thr
), v AS (
  SELECT source, thr, count(*) AS v
  FROM firstdoc, lattice, maxid
  WHERE fd <= thr AND thr <= 2 * mx
  GROUP BY 1, 2
), n AS (
  SELECT source, thr, sum(docn.n) AS n
  FROM docn, lattice, maxid
  WHERE doc_id <= thr AND thr <= 2 * mx
  GROUP BY 1, 2
)
SELECT source, count(*) AS points,
       round(regr_slope(ln(CAST(v AS DOUBLE)), ln(CAST(n AS DOUBLE))), 4)
         AS heaps_beta
FROM v JOIN n USING (source, thr)
GROUP BY 1
"""


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the token
    stream, evaluated on the exact top-20 heavy hitters: estimated vs
    exact count and relative overestimate — the fixed-memory frequency
    sketch a streaming curation pipeline keeps per shard (d=4 rows x
    w=1024 buckets = 4096 counters regardless of vocabulary size).
    Hashes are md5-derived so the DuckDB oracle computes the IDENTICAL
    sketch (same convention as winnow_fingerprints/training_shards).

    Scale shape: exact counts are one token-keyed shuffle (bounded
    vocab); the sketch itself aggregates the |vocab| count frame into
    <= 4096 (seed, bucket) cells — at 100 TB the sketch build is a
    rollup of the count table, NOT a second pass over the corpus; the
    top-20 cut is the two-phase rank. Estimate lookup joins the 20-row
    frame against the broadcast 4096-cell table."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )

    def bucket(seed: int, col):
        h = F.md5(F.concat_ws(":", F.lit(str(seed)), col))
        return F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(1024)
        )

    cells = (
        cnt.select(
            "exact_cnt",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("seed"), bucket(s, F.col("tk")).alias("b")
                    )
                    for s in range(4)
                ])
            ).alias("z"),
        )
        .groupBy("z.seed", "z.b")
        .agg(F.sum("exact_cnt").alias("cell"))
    )
    order = (F.desc("exact_cnt"), F.asc("tk"))
    w_part = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    w_all = Window.orderBy(*order)
    top = (
        cnt.withColumn("__pr", F.row_number().over(w_part))
        .where(F.col("__pr") <= 20)
        .withColumn("rk", F.row_number().over(w_all))
        .where(F.col("rk") <= 20)
        .select("tk", "exact_cnt", "rk")
    )
    est = None
    t = top
    for s in range(4):
        t = t.join(
            F.broadcast(
                cells.where(F.col("seed") == s).select(
                    F.col("b").alias(f"b{s}"), F.col("cell").alias(f"cell{s}")
                )
            ),
            bucket(s, F.col("tk")) == F.col(f"b{s}"),
        )
        e = F.col(f"cell{s}")
        est = e if est is None else F.least(est, e)
    return t.select(
        "tk",
        "exact_cnt",
        est.alias("cm_est"),
        F.round((est - F.col("exact_cnt")) / F.col("exact_cnt"), 4).alias(
            "rel_overestimate"
        ),
        "rk",
    )


COUNTMIN_SQL = r"""
WITH cnt AS (
  SELECT u.tk AS tk, count(*) AS exact_cnt
  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS a
        FROM documents) t,
  LATERAL (SELECT unnest(a) AS tk) u
  GROUP BY 1
), cells AS (
  SELECT s.seed,
         ('0x' || substr(md5(s.seed || ':' || tk), 1, 8))::BIGINT % 1024 AS b,
         sum(exact_cnt) AS cell
  FROM cnt, (SELECT unnest([0, 1, 2, 3]) AS seed) s
  GROUP BY 1, 2
), top AS (
  SELECT tk, exact_cnt,
         row_number() OVER (ORDER BY exact_cnt DESC, tk) AS rk
  FROM cnt QUALIFY rk <= 20
)
SELECT tk, exact_cnt,
       -- CAST: cell is SUM(BIGINT) = HUGEINT, which pandas/Arrow
       -- materializes as float64 ('888.0' vs Spark's long '888') in the
       -- driver's exact comparison
       CAST(min(cell) AS BIGINT) AS cm_est,
       round((min(cell) - exact_cnt) / CAST(exact_cnt AS DOUBLE), 4)
         AS rel_overestimate,
       rk
FROM top JOIN cells
  ON cells.b = ('0x' || substr(md5(cells.seed || ':' || tk), 1, 8))::BIGINT
               % 1024
GROUP BY tk, exact_cnt, rk
"""


def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, 50 docs with probability
    proportional to n_chars (Efraimidis & Spirakis 2006: draw u~U(0,1)
    per item, keep the k largest u^(1/w) — equivalently the k SMALLEST
    exponential race keys -ln(u)/w, the form used here). The standard
    one-pass distributed reservoir for byte-budgeted corpus subsetting;
    u is md5-derived so the draw is reproducible and the DuckDB oracle
    computes the identical sample.

    Scale shape: key assignment is MAP-ONLY; the global top-50 is the
    two-phase rank (each scan partition surrenders <= 50 candidates, so
    the final reducer sees <= 50*P rows, never the corpus). Keys are
    ROUNDED (8 dp) with doc_id tie-break so JVM/DuckDB ln() ulp
    differences cannot flip the cut."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.concat_ws(":", F.lit("aes7"), F.col("doc_id").cast("string")))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 1.0) / (
        float(16 ** 13) + 1.0
    )
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.round(-F.log(u) / F.col("n_chars").cast("double"), 8).alias("key"),
    )
    order = (F.asc("key"), F.asc("doc_id"))
    w_part = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    w_all = Window.orderBy(*order)
    return (
        keyed.withColumn("__pr", F.row_number().over(w_part))
        .where(F.col("__pr") <= 50)
        .withColumn("rank", F.row_number().over(w_all))
        .where(F.col("rank") <= 50)
        .select("doc_id", "n_chars", "key", "rank")
    )


WEIGHTED_SAMPLE_SQL = r"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         round(-ln((('0x' || substr(md5('aes7:' || CAST(doc_id AS VARCHAR)),
                                    1, 13))::BIGINT + 1.0)
                   / (power(16, 13) + 1.0))
               / CAST(n_chars AS DOUBLE), 8) AS key
  FROM documents
)
SELECT doc_id, n_chars, key,
       row_number() OVER (ORDER BY key, doc_id) AS rank
FROM keyed QUALIFY rank <= 50
"""


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch
    negatives upgrade every embedding-model pipeline ships): for each
    query vector, the top-5 most cosine-similar corpus vectors with a
    DIFFERENT label — maximally confusable negatives.

    Scale shape: queries broadcast into one corpus pass (the label
    filter rides the same broadcast join); ranking is the two-phase
    exact top-k, so no reducer holds one query's full score list.
    Scores round to 6 dp with neighbor tie-break for cross-engine
    rank stability."""
    emb = _t(spark, sf_dir, spread=True, name="embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("__ql"),
    )
    scored = (
        emb.join(
            F.broadcast(q),
            (F.col("label") != F.col("__ql"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            F.round(
                similarity.cosine(F.col("__qv"), F.col("embedding")), 6
            ).alias("score"),
            F.spark_partition_id().alias("__pid"),
        )
    )
    order = (F.desc("score"), F.asc("neighbor_id"))
    w_part = Window.partitionBy("query_id", "__pid").orderBy(*order)
    w_all = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("__pr", F.row_number().over(w_part))
        .where(F.col("__pr") <= 5)
        .withColumn("rank", F.row_number().over(w_all))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "neg_label", "score", "rank")
    )


HARD_NEGATIVE_SQL = """
SELECT query_id, neighbor_id, neg_label, score, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neg_label,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
           AS score,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(
                      CAST(q.embedding AS DOUBLE[]),
                      CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id
         ) AS rank
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id < 10 AND c.label <> q.label AND c.vec_id <> q.vec_id
) WHERE rank <= 5
"""


def mrl_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022): for
    prefix dimensionalities 8/16/32/64, the recall@5 of truncated-dim
    cosine retrieval against the full-dim top-5 — the measurement that
    decides how far an index can shrink its vectors before quality
    drops, run before committing a 100 TB corpus to a truncated index.

    Scale shape: ONE corpus pass computes all four truncated scores in
    a single projection (queries broadcast); the per-(dim, query) rank
    is the two-phase exact top-k over the 4x-exploded score stream;
    recall joins two <= |dims| x |Q| x 5 frames. Scores round to 6 dp
    with neighbor tie-break for cross-engine rank stability."""
    dims = [8, 16, 32, 64]
    emb = _t(spark, sf_dir, spread=True, name="embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(d).alias("dim"),
                        F.round(
                            similarity.cosine(
                                F.slice(F.col("__qv"), 1, d),
                                F.slice(F.col("embedding"), 1, d),
                            ),
                            6,
                        ).alias("score"),
                    )
                    for d in dims
                ])
            ).alias("z"),
        )
        .select(
            "query_id", "neighbor_id", "z.dim", "z.score",
            F.spark_partition_id().alias("__pid"),
        )
    )
    order = (F.desc("score"), F.asc("neighbor_id"))
    w_part = Window.partitionBy("dim", "query_id", "__pid").orderBy(*order)
    w_all = Window.partitionBy("dim", "query_id").orderBy(*order)
    ranked = (
        scored.withColumn("__pr", F.row_number().over(w_part))
        .where(F.col("__pr") <= 5)
        .withColumn("rank", F.row_number().over(w_all))
        .where(F.col("rank") <= 5)
        .select("dim", "query_id", "neighbor_id")
    )
    full = ranked.where(F.col("dim") == 64).select(
        "query_id", "neighbor_id"
    )
    hits = ranked.join(full, ["query_id", "neighbor_id"]).groupBy(
        "dim", "query_id"
    ).agg(F.count(F.lit(1)).alias("h"))
    return (
        ranked.select("dim", "query_id")
        .distinct()
        .join(hits, ["dim", "query_id"], "left")
        .select(
            "dim",
            "query_id",
            F.round(F.coalesce(F.col("h"), F.lit(0)) / 5.0, 2).alias("recall_at_5"),
        )
    )


MRL_EVAL_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, d.dim,
         round(list_cosine_similarity(qv[1:d.dim],
                                      CAST(c.embedding AS DOUBLE[])[1:d.dim]),
               6) AS score
  FROM q JOIN embeddings c ON c.vec_id <> q.query_id
  CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dim) d
), ranked AS (
  SELECT dim, query_id, neighbor_id,
         row_number() OVER (PARTITION BY dim, query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored QUALIFY rank <= 5
), full5 AS (
  SELECT query_id, neighbor_id FROM ranked WHERE dim = 64
), hits AS (
  SELECT r.dim, r.query_id, count(*) AS h
  FROM ranked r JOIN full5 f USING (query_id, neighbor_id)
  GROUP BY 1, 2
)
SELECT d.dim, d.query_id,
       round(coalesce(h, 0) / 5.0, 2) AS recall_at_5
FROM (SELECT DISTINCT dim, query_id FROM ranked) d
LEFT JOIN hits USING (dim, query_id)
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (subword tokens per whitespace
    word — the standard tokenizer-fit diagnostic, e.g. XLM-R App. A;
    high fertility means the vocab fragments that language) plus
    tokens-per-char, using the same BPE-ish counter as `token_counts`.
    The number a multilingual mixture planner checks before committing
    a token budget per language.

    Scale shape: MAP-ONLY per-doc counting (array HOFs inside one
    projection) into a |langs|-row aggregate with map-side partials —
    one tiny shuffle, no joins."""
    docs = _t(spark, sf_dir, "documents")
    # n_chars > 0 is the pushable scan-column guard (parquet reader
    # filter); n_ws > 0 below still excludes whitespace-only residue
    per_doc = docs.where(F.col("n_chars") > 0).select(
        "lang",
        "n_chars",
        text.token_count_ws(F.col("text")).alias("n_ws"),
        text.token_count_bpe(F.col("text")).alias("n_bpe"),
    )
    return (
        per_doc.where(F.col("n_ws") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.avg(F.col("n_bpe").cast("double") / F.col("n_ws")), 4
            ).alias("fertility"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_chars"), 6
            ).alias("tokens_per_char"),
        )
    )


TOKENIZER_FERTILITY_SQL = r"""
WITH t AS (
  SELECT lang, n_chars,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS toks,
         text
  FROM documents WHERE n_chars > 0
), c AS (
  SELECT lang, n_chars, len(toks) AS n_ws,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
           CAST(list_sum(list_transform(toks, w ->
             CAST(ceil(length(regexp_replace(w, '[^\p{L}\p{N}]', '', 'g')) / 4.0) AS INT)
             + length(regexp_replace(w, '[\p{L}\p{N}]', '', 'g')))) AS BIGINT)
         END AS n_bpe
  FROM t
)
SELECT lang, count(*) AS n_docs,
       round(avg(CAST(n_bpe AS DOUBLE) / n_ws), 4) AS fertility,
       round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_chars), 6) AS tokens_per_char
FROM c WHERE n_ws > 0
GROUP BY 1
"""


def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (Schroff et al. 2015 FaceNet-style
    (a, p, n) selection): for each anchor, the top-1 SAME-label cosine
    neighbor as positive and the top-1 DIFFERENT-label neighbor as the
    hard negative, with the margin — the training-pair artifact an
    embedding-model pipeline exports from a curated corpus.

    Scale shape: ONE corpus pass scores both roles (anchors broadcast;
    the same-label/diff-label split is a projection, not two scans);
    per-(anchor, role) top-1 is the two-phase exact rank; the final
    frame joins two |anchors|-row results. Scores round to 6 dp with
    neighbor tie-break for cross-engine stability."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("__ql"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("cand_id"),
            (F.col("label") == F.col("__ql")).alias("same"),
            F.round(
                similarity.cosine(F.col("__qv"), F.col("embedding")), 6
            ).alias("score"),
            F.spark_partition_id().alias("__pid"),
        )
    )
    order = (F.desc("score"), F.asc("cand_id"))
    w_part = Window.partitionBy("anchor_id", "same", "__pid").orderBy(*order)
    w_all = Window.partitionBy("anchor_id", "same").orderBy(*order)
    top1 = (
        scored.withColumn("__pr", F.row_number().over(w_part))
        .where(F.col("__pr") <= 1)
        .withColumn("__r", F.row_number().over(w_all))
        .where(F.col("__r") == 1)
    )
    pos = top1.where("same").select(
        "anchor_id",
        F.col("cand_id").alias("positive_id"),
        F.col("score").alias("pos_score"),
    )
    neg = top1.where(~F.col("same")).select(
        "anchor_id",
        F.col("cand_id").alias("negative_id"),
        F.col("score").alias("neg_score"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "pos_score",
        "negative_id",
        "neg_score",
        F.round(F.col("pos_score") - F.col("neg_score"), 6).alias("margin"),
    )


CONTRASTIVE_SQL = """
WITH scored AS (
  SELECT q.vec_id AS anchor_id, c.vec_id AS cand_id,
         c.label = q.label AS same,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
           AS score
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < 10 AND c.vec_id <> q.vec_id
), top1 AS (
  SELECT anchor_id, cand_id, same, score,
         row_number() OVER (PARTITION BY anchor_id, same
                            ORDER BY score DESC, cand_id) AS r
  FROM scored QUALIFY r = 1
)
SELECT p.anchor_id,
       p.cand_id AS positive_id, p.score AS pos_score,
       n.cand_id AS negative_id, n.score AS neg_score,
       round(p.score - n.score, 6) AS margin
FROM top1 p JOIN top1 n ON p.anchor_id = n.anchor_id
WHERE p.same AND NOT n.same
"""


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the embedding near-dup graph (Brin & Page 1998
    power iteration, 10 rounds, d=0.85): the centrality signal that
    picks the CANONICAL copy inside a duplication cluster and weights
    crawl importance before sampling. Rows-only for the driver
    (iterative); the gates (ranks sum to 1, isolated nodes at the
    (1-d)/N baseline, hubs outrank leaves) live in tests/test_quality.py.

    Scale shape: the edge list comes from the CLUSTER-BOUNDED pair
    generator (operators/dedup.py::cluster_neardup_pairs — k-means cells
    + multi-probe, FLOPs ~ n^2*p^2/k instead of the all-pairs GEMM's n^2;
    at 100 TB n_cells grows ~sqrt(n) so per-cell work stays bounded),
    recall-gated >= 0.9 vs the exact pairs in tests/test_quality.py
    (measured 0.97 at sf0.001 on worst-case random embeddings). The
    PageRank loop itself: see operators/graph.py::pagerank — per round
    one (long, double) join + dst-keyed agg, localCheckpoint'd lineage,
    one-row dangling-mass broadcast."""
    emb = _t(spark, sf_dir, spread=True, name="embeddings")
    pairs = dedup.cluster_neardup_pairs(
        emb, threshold=0.4, n_cells=8, n_probe=3
    )
    from wp_motor_spark.operators.graph import pagerank

    return pagerank(emb.select(F.col("vec_id").alias("id")), pairs)


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023): k-means clusters
    bound the candidate comparisons, then a greedy within-cluster prune
    keeps the diversity-preserving representative set — the scale path
    that replaces `embedding_neardup_pairs`' all-pairs O(n^2) scan.
    Rows-only for the driver (k-means is iterative); the exactness gate
    (every drop justified by a kept near-neighbor in-cluster, no kept
    pair above threshold) lives in tests/test_quality.py.

    Scale shape: see operators/dedup.py::semdedup — map-only assignment
    against broadcast centroids, ONE cluster-keyed shuffle, greedy prune
    per Arrow group (parallelism = n_cells; the paper shards clusters
    the same way)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = dedup.semdedup(emb, threshold=0.4, n_cells=8)
    return out.select(
        "vec_id", "cluster", F.round("centroid_sim", 4).alias("centroid_sim"),
        "keep", "dup_of",
    )


def k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (Sweeney 2002) over the event stream:
    with quasi-identifier (event_type, day), release only events whose
    group contains >= 5 DISTINCT users — groups smaller than k are
    suppressed outright, the release rule a privacy-reviewed telemetry
    pipeline applies before events feed training.

    Scale shape: the group census is one (type, day)-keyed shuffle with
    map-side partials; the qualifying-group set is bounded by
    |types| x |days| and BROADCASTS back into a map-side semi join —
    events themselves shuffle zero times."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    groups = (
        ev.groupBy("event_type", "day")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .where(F.col("n_users") >= 5)
    )
    return (
        ev.join(F.broadcast(groups), ["event_type", "day"])
        .select("event_id", "event_type", "day", "n_users")
    )


K_ANONYMITY_SQL = """
WITH ev AS (
  SELECT event_id, event_type, CAST(ts AS DATE) AS day, user_id FROM events
), groups AS (
  SELECT event_type, day, count(DISTINCT user_id) AS n_users
  FROM ev GROUP BY 1, 2 HAVING count(DISTINCT user_id) >= 5
)
SELECT event_id, ev.event_type, ev.day, n_users
FROM ev JOIN groups USING (event_type, day)
"""


def cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family, Muthitacharoen
    et al. 2001 LBFS): cut each document at token positions where the
    hash of the trailing 5-token window lands in a fixed residue class
    (md5 % 8 == 0, expected chunk ~8 tokens) — boundaries move WITH the
    content, so an insertion only re-chunks its neighborhood instead of
    shifting every fixed-size block. Emits (doc_id, chunk_idx, n_tokens,
    chunk_hash): the chunk-granularity dedup primitive between exact
    full-doc dedup and span dedup. md5-derived so the DuckDB oracle
    computes identical boundaries.

    Scale shape: MAP-ONLY — boundary detection, span assembly and chunk
    hashing all run as array HOFs inside one projection; only the final
    (doc, chunk) explode leaves the row. Nothing shuffles."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    return (
        docs.where(F.col("n_chars") > 0)
        .select("doc_id", text.tokens(F.col("text")).alias("a"))
        .select(
            "doc_id",
            # sequence(1, n) stays ascending for every n >= 1 (a
            # sequence(5, n) DESCENDS when n < 5 and the i=4 window
            # would hit slice(a, 0, 5) — a runtime error on 1-4-token
            # docs); greatest() keeps the slice start legal for the
            # i < 5 candidates the i >= 5 predicate then discards
            F.expr(
                "array_sort(array_distinct(concat(array(0),"
                " filter(sequence(1, size(a)),"
                "  i -> i >= 5 and pmod(cast(conv(substring("
                "   md5(array_join(slice(a, greatest(i - 4, 1), 5), ' ')), 1, 8),"
                "   16, 10) as bigint), 8) = 0),"
                " array(size(a)))))"
            ).alias("b"),
            "a",
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(b) - 1),"
                    " j -> struct(j as chunk_idx,"
                    "  element_at(b, j + 1) - element_at(b, j) as n_tokens,"
                    "  md5(array_join(slice(a, element_at(b, j) + 1,"
                    "   element_at(b, j + 1) - element_at(b, j)), ' '))"
                    "   as chunk_hash))"
                )
            ).alias("z"),
        )
        .select("doc_id", "z.chunk_idx", "z.n_tokens", "z.chunk_hash")
    )


CDC_CHUNKING_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents WHERE n_chars > 0
), bounds AS (
  SELECT doc_id, a,
         list_sort(list_distinct(
           [0]
           || list_filter(range(5, len(a) + 1),
                i -> ('0x' || substr(md5(array_to_string(a[i-4:i], ' ')),
                                     1, 8))::BIGINT % 8 = 0)
           || [len(a)])) AS b
  FROM tok
)
SELECT doc_id, u.z.chunk_idx, u.z.n_tokens, u.z.chunk_hash
FROM bounds, LATERAL (
  SELECT unnest(list_transform(range(1, len(b)),
    j -> struct_pack(
      chunk_idx := j,
      n_tokens := b[j + 1] - b[j],
      chunk_hash := md5(array_to_string(a[b[j] + 1 : b[j + 1]], ' '))
    ))) AS z) u
"""


# --------------------------------------------------------------------------
# r11 additions: Good-Turing unseen mass, distinct-n diversity, prefix
# containment dedup, JL random-projection ANN
# --------------------------------------------------------------------------


def good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simple Good-Turing unseen-probability mass (Gale &
    Sampson 1995): p0 = N1/N, the probability a NEXT token is a type
    never seen in this source — the coverage estimate a tokenizer/vocab
    build runs per crawl to decide whether a source is under-sampled.
    Also emits the Turing-adjusted singleton count r* = 2*N2/N1.

    Scale shape: one (source, token) shuffle builds the count table
    (map-side partial agg carries only distinct tokens per partition);
    the frequency-of-frequency rollup is a second tiny agg over the
    count table (|vocab| rows, not |corpus|); output is |sources| rows.
    No windows, no driver state — linear at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(text.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.count_if(F.col("c") == 1).alias("n1"),
            F.count_if(F.col("c") == 2).alias("n2"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "n1",
            "n2",
            F.round(F.col("n1") / F.col("n_tokens"), 6).alias("p0"),
            # a source with zero singletons has no Turing estimate (NULL
            # on both sides, not a divide-by-zero)
            F.when(
                F.col("n1") > 0, F.round(2.0 * F.col("n2") / F.col("n1"), 6)
            ).alias("r_star"),
        )
    )


GOOD_TURING_SQL = r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS vocab,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n1,
       CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS n2,
       round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / sum(c), 6) AS p0,
       CASE WHEN count(*) FILTER (WHERE c = 1) > 0
            THEN round(2.0 * count(*) FILTER (WHERE c = 2)
                       / count(*) FILTER (WHERE c = 1), 6)
       END AS r_star
FROM cnt
GROUP BY source
"""


def distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-n diversity (Li et al. 2016, "A Diversity-
    Promoting Objective Function"): |unique n-grams| / |n-grams| for
    n=1,2 — the template/boilerplate screen (machine-generated sources
    repeat bigrams, driving distinct-2 down) run before mixture
    weighting.

    Scale shape: unigrams and bigrams are built MAP-ONLY with array HOFs
    per row, then two (source, gram) distinct aggregations — the same
    partial-agg shuffle shape as the count tables; output |sources|
    rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", text.tokens(F.col("text")).alias("t")
    )
    grams = toks.select(
        "source",
        F.explode(
            F.concat(
                F.transform(F.col("t"), lambda w: F.concat(F.lit("1\x01"), w)),
                F.when(
                    F.size("t") >= 2,
                    F.transform(
                        F.slice(F.col("t"), 1, F.size("t") - 1),
                        lambda w, i: F.concat(
                            F.lit("2\x01"), w, F.lit(" "),
                            F.element_at(F.col("t"), i + 2),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("g"),
    )
    return (
        grams.select("source", F.substring("g", 1, 1).alias("n"), "g")
        .groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_distinct("g").alias("uniq"),
        )
        .select(
            "source",
            F.col("n").cast("int").alias("n"),
            "total",
            "uniq",
            F.round(F.col("uniq") / F.col("total"), 6).alias("distinct_ratio"),
        )
    )


DISTINCT_NGRAMS_SQL = r"""
WITH tok AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), grams AS (
  SELECT source, 1 AS n, unnest(t) AS g FROM tok
  UNION ALL
  SELECT source, 2 AS n,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM tok
  WHERE len(t) >= 2
)
SELECT source, n,
       count(*) AS total,
       count(DISTINCT g) AS uniq,
       round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
         AS distinct_ratio
FROM grams
GROUP BY 1, 2
"""


def prefix_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-containment dedup (the containment case of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a doc
    whose full text is a PREFIX of another doc (truncated re-crawls,
    partial page saves) is flagged with the doc that contains it.
    Lexicographic adjacency makes one sorted neighbor check exact: if A
    is a prefix of any B in the bucket, A is a prefix of its immediate
    sorted successor.

    Scale shape: docs with >= 4 chars bucket by their first 4 chars (a
    prefix pair whose contained side has >= 4 chars always shares them —
    and by the lexicographic-interval property the in-bucket successor
    check is EXACT for those docs), so the sort window runs WITHIN
    buckets — no global single-reducer ordering. Docs SHORTER than the
    bucket key cannot meet their containers in any 4-char bucket (the
    r11 judge's finding: "ab" lands in bucket "ab", its container
    "abcdef" in "abcd"), so they take a separate pass: the short-doc
    sliver (< 4 chars — degenerate at any real corpus) BROADCASTS
    against one corpus scan and keeps the minimal (text, doc_id)
    container, the same successor the window would pick. A run of
    identical texts chains each copy to its successor, so all but the
    last copy (largest doc_id) are flagged. 100x skew note: a
    corpus-dominant 4-char prefix (HTML boilerplate "<!DO") makes one
    bucket ~ the whole corpus; the bounded fix is a longer bucket key
    for long docs (e.g. 16 chars) with this same short-doc replication
    rule applied at that boundary."""
    docs = _t(spark, sf_dir, "documents")
    b = docs.select("doc_id", "source", F.col("text").alias("t"))
    longd = b.where(F.length("t") >= 4).withColumn(
        "bkt", F.substring("t", 1, 4)
    )
    w = Window.partitionBy("bkt").orderBy("t", "doc_id")
    nxt = longd.select(
        "doc_id", "source", "t",
        F.lead("t").over(w).alias("nt"),
        F.lead("doc_id").over(w).alias("nid"),
    )
    long_hits = (
        nxt.where(
            F.col("nt").isNotNull()
            & (F.col("nt").startswith(F.col("t")))
        )
        .select(
            "doc_id",
            "source",
            F.col("nid").alias("contained_in"),
            F.length("t").alias("len"),
            F.length("nt").alias("container_len"),
        )
    )
    short = b.where(F.length("t") < 4).select(
        F.col("doc_id").alias("a_id"),
        F.col("source").alias("a_source"),
        F.col("t").alias("a_t"),
    )
    cand = F.broadcast(short).join(
        b,
        F.col("t").startswith(F.col("a_t"))
        & (
            (F.col("t") > F.col("a_t"))
            | ((F.col("t") == F.col("a_t")) & (F.col("doc_id") > F.col("a_id")))
        ),
    )
    short_hits = (
        cand.groupBy("a_id", "a_source", "a_t")
        .agg(F.min(F.struct("t", "doc_id")).alias("best"))
        .select(
            F.col("a_id").alias("doc_id"),
            F.col("a_source").alias("source"),
            F.col("best.doc_id").alias("contained_in"),
            F.length("a_t").alias("len"),
            F.length("best.t").alias("container_len"),
        )
    )
    return long_hits.unionByName(short_hits)


PREFIX_CONTAIN_SQL = r"""
WITH b AS (
  SELECT doc_id, source, text AS t FROM documents
), nxt AS (
  SELECT doc_id, source, t,
         lead(t) OVER (PARTITION BY substr(t, 1, 4) ORDER BY t, doc_id) AS nt,
         lead(doc_id) OVER (PARTITION BY substr(t, 1, 4) ORDER BY t, doc_id) AS nid
  FROM b WHERE length(t) >= 4
), long_hits AS (
  SELECT doc_id, source, nid AS contained_in,
         length(t) AS len, length(nt) AS container_len
  FROM nxt
  WHERE nt IS NOT NULL AND starts_with(nt, t)
), short_hits AS (
  SELECT a.doc_id, a.source,
         (min(struct_pack(t := d.t, id := d.doc_id))).id AS contained_in,
         length(a.t) AS len,
         length((min(struct_pack(t := d.t, id := d.doc_id))).t) AS container_len
  FROM b a JOIN b d
    ON starts_with(d.t, a.t)
   AND (d.t > a.t OR (d.t = a.t AND d.doc_id > a.doc_id))
  WHERE length(a.t) < 4
  GROUP BY a.doc_id, a.source, a.t
)
SELECT * FROM long_hits UNION ALL SELECT * FROM short_hits
"""


def jl_projection_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss two-tier ANN: shortlist-200 in the 24-dim
    seeded-Gaussian projection (JL lemma — pairwise angles survive
    within epsilon, so true neighbors stay in a generous shortlist even
    when epsilon swamps the top-5 margins), exact full-dim cosine rerank
    of the survivors. The cheap first tier before IVF/PQ: 2.7x less
    distance compute and a 2.7x smaller ranked shuffle on the corpus
    pass. Rows-only for the driver (engine-seeded numpy projection); the
    rerank-recall@5 gate vs full-dim exact top-k (measured 1.0 at
    sf0.001 on worst-case random embeddings, floor 0.8) lives in
    tests/test_quality.py.

    Scale shape: see operators/similarity.py::jl_rerank_topk — map-only
    projection (matrix regenerated deterministically inside the Arrow
    UDF), two-phase exact shortlist rank, rerank touches full vectors
    for only |Q| x 200 rows."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.jl_rerank_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, out_dim=24, shortlist=200
    )


def domain_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture (the multinomial alpha-sampling
    of GPT-3 / LLaMA data recipes, alpha=0.3): per-source sampling weight
    w_i = p_i^alpha / sum_j p_j^alpha where p_i is the source's doc
    share — upweights small domains relative to raw frequency; emits the
    expected doc allocation for a 10k-doc budget.

    Scale shape: one count agg to |sources| rows, a one-row total
    broadcast back over them (plan-lint ALLOWED tiny nested loop), no
    second corpus pass."""
    docs = _t(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = cnt.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow(F.col("n_docs").cast("double"), 0.3)).alias("z"),
    )
    return (
        cnt.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("p_raw"),
            F.round(
                F.pow(F.col("n_docs").cast("double"), 0.3) / F.col("z"), 6
            ).alias("w_alpha"),
            F.round(
                10000.0 * F.pow(F.col("n_docs").cast("double"), 0.3) / F.col("z"),
                2,
            ).alias("expected_docs_10k"),
        )
    )


DOMAIN_TEMPERATURE_SQL = """
WITH cnt AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         sum(pow(CAST(n_docs AS DOUBLE), 0.3)) AS z
  FROM cnt
)
SELECT source, n_docs,
       round(CAST(n_docs AS DOUBLE) / n_total, 6) AS p_raw,
       round(pow(CAST(n_docs AS DOUBLE), 0.3) / z, 6) AS w_alpha,
       round(10000.0 * pow(CAST(n_docs AS DOUBLE), 0.3) / z, 2)
         AS expected_docs_10k
FROM cnt, tot
"""


def dp_event_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork 2006 Laplace
    mechanism, eps=0.5, sensitivity 1 -> scale 2): per-event-type counts
    plus Laplace noise drawn via inverse-CDF from an md5-derived uniform
    — the deterministic seeding makes the release reproducible AND lets
    the DuckDB oracle recompute the identical noised values (a real
    deployment uses a fresh RNG; the mechanism arithmetic is what's
    under test). Negative releases clamp to 0 (standard post-processing,
    preserves DP).

    Scale shape: one count agg to |event_types| rows; the noise is a
    per-row expression over that tiny frame. At 100 TB the only cost is
    the count shuffle (map-side combined)."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_count"))
    # u in (-0.5, 0.5) from the top 8 hex chars of md5(key):
    # u = h/2^32 - 0.5; Laplace sample = -scale * sign(u) * ln(1 - 2|u|)
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("event_type"), F.lit(":dp1"))), 1, 8),
        16,
        10,
    ).cast("double")
    u = h / F.lit(4294967296.0) - 0.5
    noise = -2.0 * F.signum(u) * F.log(1.0 - 2.0 * F.abs(u))
    return cnt.select(
        "event_type",
        "true_count",
        F.round(noise, 4).alias("noise"),
        F.greatest(
            F.lit(0.0), F.round(F.col("true_count") + noise, 4)
        ).alias("released"),
    )


DP_RELEASE_SQL = """
WITH cnt AS (
  SELECT event_type, count(*) AS true_count FROM events GROUP BY 1
), noised AS (
  SELECT event_type, true_count,
         (('0x' || substr(md5(event_type || ':dp1'), 1, 8))::BIGINT
            / 4294967296.0) - 0.5 AS u
  FROM cnt
)
SELECT event_type, true_count,
       round(-2.0 * sign(u) * ln(1 - 2 * abs(u)), 4) AS noise,
       greatest(0.0, round(true_count + (-2.0 * sign(u) * ln(1 - 2 * abs(u))), 4))
         AS released
FROM noised
"""


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate docs MUST land
    in the same split (a val doc whose near-dup sits in train leaks the
    answer — the eval-contamination failure mode dedup papers warn
    about). Docs are grouped by their n-gram-Jaccard connected component
    (singletons group alone), the GROUP is hashed, and the 8/1/1 split
    decides by group hash, never per doc.

    Scale shape: rides dedup_clusters' pair + component machinery (one
    inverted-index shuffle + the bounded CC loop); the split itself is a
    map-only md5 hash on the group key. Output (doc_id, group_key,
    split)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    comp = dedup.connected_components(pairs)
    joined = docs.select("doc_id").join(
        comp.select(F.col("id").alias("doc_id"), "comp"), "doc_id", "left"
    )
    gk = F.coalesce(F.col("comp"), F.col("doc_id"))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(gk.cast("string")), 1, 8), 16, 10).cast("bigint"),
        F.lit(10),
    )
    return joined.select(
        "doc_id",
        gk.alias("group_key"),
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


LEAKAGE_SPLIT_SQL = r"""
WITH RECURSIVE norm AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
), words AS (
  SELECT id, string_split(t, ' ') AS w, t FROM norm
), sh AS (
  SELECT id, list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
         ELSE [t] END) AS grams
  FROM words
), sizes AS (
  SELECT id, len(grams) AS n FROM sh
), inv AS (
  SELECT id, unnest(grams) AS g FROM sh
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS comp FROM reach GROUP BY u
), grouped AS (
  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS group_key
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, group_key,
       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END
         AS split
FROM (
  SELECT doc_id, group_key,
         ('0x' || substr(md5(group_key::VARCHAR), 1, 8))::BIGINT % 10 AS b
  FROM grouped
)
"""




def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup key (the primitive a crawl pipeline applies
    BEFORE fetch/hash dedup — RFC 3986 normalization + tracking-param
    strip): lowercase scheme/host, default port drop, dot-segment
    resolution, fragment drop, utm_*/fbclid/gclid strip, sorted query.
    URLs are synthesized deterministically from `documents` (the corpus
    has no URL column) with every normalization hazard embedded, so the
    oracle checks the full canonicalizer end-to-end.

    Scale shape: MAP-ONLY — one expression pipeline inside whole-stage
    codegen, no shuffle, no UDF (operators/cleanse.py::canonicalize_url).
    """
    from wp_motor_spark.operators.cleanse import canonicalize_url

    docs = _t(spark, sf_dir, "documents")
    raw = F.format_string(
        "HTTP://%s.Example.COM:80/a/./%s/../p%d?utm_source=x&b=2&a=1&gclid=g#frag",
        F.col("source"),
        F.col("lang"),
        F.col("doc_id"),
    )
    return docs.select(
        "doc_id",
        raw.alias("raw_url"),
        canonicalize_url(raw).alias("canon_url"),
    )


URL_CANON_SQL = r"""
WITH synth AS (
  SELECT doc_id,
         'HTTP://' || source || '.Example.COM:80/a/./' || lang ||
         '/../p' || CAST(doc_id AS VARCHAR) ||
         '?utm_source=x&b=2&a=1&gclid=g#frag' AS raw_url,
         source, lang
  FROM documents
)
SELECT doc_id, raw_url,
       'http://' || lower(source) || '.example.com/a/p' ||
       CAST(doc_id AS VARCHAR) || '?' ||
       array_to_string(list_sort(list_filter(
         string_split('b=2&a=1', '&'), p -> p != '')), '&') AS canon_url
FROM synth
"""


def luhn_card_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card screening (PCI gate next to PII redaction): extract
    13-19 digit runs from text and Luhn-validate each (ISO/IEC 7812
    mod-10), emitting the PCI masked form (first 6 + last 4). Candidate
    numbers are synthesized deterministically from `events` — validity
    then varies naturally (~1 in 10 passes the checksum) and the oracle
    recomputes Luhn independently with DuckDB list arithmetic.

    Scale shape: MAP-ONLY — regexp run extraction + integer HOF checksum
    per candidate, no shuffle (operators/cleanse.py::luhn_valid)."""
    from wp_motor_spark.operators.cleanse import find_card_candidates

    ev = _t(spark, sf_dir, spread=True, name="events")
    synth = ev.select(
        "event_id",
        F.format_string(
            "receipt id %d card %d total ok",
            F.col("event_id"),
            (F.col("user_id") + 4000_0000_0000_0000) * 10
            + F.col("event_id") % 10,
        ).alias("text"),
    )
    out = find_card_candidates(synth, "text")
    return out.select("event_id", "card", "luhn_valid", "masked")


LUHN_SCAN_SQL = r"""
WITH synth AS (
  SELECT event_id,
         'receipt id ' || CAST(event_id AS VARCHAR) || ' card ' ||
         CAST((user_id + 4000000000000000) * 10 + event_id % 10 AS VARCHAR)
         || ' total ok' AS text
  FROM events
), runs AS (
  SELECT event_id, unnest(regexp_extract_all(text, '[0-9]+')) AS card
  FROM synth
), cand AS (
  SELECT event_id, card FROM runs WHERE length(card) BETWEEN 13 AND 19
)
SELECT event_id, card,
       list_sum(list_transform(range(1, length(card) + 1), i -> CASE
         WHEN i % 2 = 0 THEN CASE
           WHEN CAST(substr(reverse(card), i, 1) AS INT) * 2 > 9
           THEN CAST(substr(reverse(card), i, 1) AS INT) * 2 - 9
           ELSE CAST(substr(reverse(card), i, 1) AS INT) * 2 END
         ELSE CAST(substr(reverse(card), i, 1) AS INT) END)) % 10 = 0
         AS luhn_valid,
       substr(card, 1, 6) || repeat('*', length(card) - 10) ||
         substr(card, length(card) - 3, 4) AS masked
FROM cand
"""


def naive_bayes_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText/DCLM-style quality-classifier filter, distilled to its
    closed-form core: a multinomial Naive Bayes with Laplace smoothing
    trained ON THE CORPUS ITSELF (positives = the curated sources
    src0/src1, the way DCLM seeds its classifier with known-good pages)
    and applied back as a per-doc log-odds score. No iterative training
    — token-class counts ARE the model, so the oracle replays it
    exactly; round(…,4) absorbs log() ulp drift between engines.

    Scale shape: one (token, class) count shuffle builds the model; the
    model joins back onto the token stream WITHOUT a broadcast hint — a
    whitespace-token vocab over raw web text grows under Heaps' law
    (1e8-1e9 distinct tokens at 100 TB), so the model join must be able
    to shuffle; AQE broadcasts it at runtime when actually small. One
    doc-keyed partial-agg shuffle sums the log-odds. The class-prior
    constant is a one-row broadcast (plan-lint ALLOWED)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("source").isin("src0", "src1")).alias("pos"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("c_neg"),
    )
    totals = counts.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log((F.col("c_pos") + 1) / (F.col("n_pos") + F.col("v")))
            - F.log((F.col("c_neg") + 1) / (F.col("n_neg") + F.col("v")))
        ).alias("llr"),
    )
    prior = docs.agg(
        (
            F.log(F.sum(F.when(F.col("source").isin("src0", "src1"), 1).otherwise(0)))
            - F.log(F.sum(F.when(~F.col("source").isin("src0", "src1"), 1).otherwise(0)))
        ).alias("prior")
    )
    scored = (
        toks.join(model, "tok")
        .groupBy("doc_id")
        .agg(F.sum("llr").alias("tok_llr"))
        .crossJoin(F.broadcast(prior))
    )
    return scored.select(
        "doc_id",
        F.round(F.col("tok_llr") + F.col("prior"), 4).alias("nb_score"),
        ((F.col("tok_llr") + F.col("prior")) > 0).alias("keep"),
    )


NAIVE_BAYES_SQL = r"""
WITH toks AS (
  SELECT doc_id, source IN ('src0', 'src1') AS pos,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
), toks2 AS (
  SELECT * FROM toks WHERE tok != ''
), counts AS (
  SELECT tok,
         SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
         SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS c_neg
  FROM toks2 GROUP BY tok
), totals AS (
  SELECT SUM(c_pos) AS n_pos, SUM(c_neg) AS n_neg, COUNT(*) AS v FROM counts
), model AS (
  SELECT tok,
         ln((c_pos + 1) / CAST(n_pos + v AS DOUBLE))
         - ln((c_neg + 1) / CAST(n_neg + v AS DOUBLE)) AS llr
  FROM counts, totals
), prior AS (
  SELECT ln(SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END))
         - ln(SUM(CASE WHEN source NOT IN ('src0','src1') THEN 1 ELSE 0 END))
           AS prior
  FROM documents
)
SELECT doc_id,
       round(SUM(llr) + ANY_VALUE(prior), 4) AS nb_score,
       SUM(llr) + ANY_VALUE(prior) > 0 AS keep
FROM toks2 JOIN model USING (tok), prior
GROUP BY doc_id
"""


def doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023), one
    deterministic exponentiated-gradient step: per-source excess loss
    against the corpus-weighted mean drives w_i ∝ p_i · exp(η·excess).
    The loss proxy is the corpus's own unigram negative log-likelihood
    (per-doc mean, then per-source mean) — deterministic and exactly
    replayable, where the paper's proxy-model loss is not.

    Scale shape: one token-count shuffle builds the unigram LM, which
    joins back onto the token stream WITHOUT a broadcast hint (a
    whitespace-token vocab grows under Heaps' law — 1e8-1e9 distinct
    tokens at 100 TB; AQE broadcasts at runtime when actually small),
    one doc-keyed shuffle for per-doc NLL, a |sources|-row rollup, and
    one-row broadcasts for the corpus total and the normalizer
    (plan-lint ALLOWED)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    unigram = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_total = unigram.agg(F.sum("c").alias("n"))
    lm = unigram.crossJoin(F.broadcast(n_total)).select(
        "tok", (-F.log(F.col("c") / F.col("n"))).alias("nll")
    )
    doc_loss = (
        toks.join(lm, "tok")
        .groupBy("doc_id", "source")
        .agg(F.avg("nll").alias("doc_nll"))
    )
    src = doc_loss.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doc_nll").alias("loss")
    )
    base = src.agg(
        F.sum("n_docs").alias("total"),
        (F.sum(F.col("loss") * F.col("n_docs")) / F.sum("n_docs")).alias("ref"),
    )
    wts = src.crossJoin(F.broadcast(base)).select(
        "source",
        (F.col("n_docs") / F.col("total")).alias("p"),
        "loss",
        (
            F.col("n_docs") / F.col("total")
            * F.exp(F.col("loss") - F.col("ref"))
        ).alias("raw_w"),
    )
    z = wts.agg(F.sum("raw_w").alias("z"))
    return wts.crossJoin(F.broadcast(z)).select(
        "source",
        F.round("p", 4).alias("p"),
        F.round("loss", 4).alias("loss"),
        F.round(F.col("raw_w") / F.col("z"), 4).alias("weight"),
    )


DOREMI_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
), toks2 AS (
  SELECT * FROM toks WHERE tok != ''
), unigram AS (
  SELECT tok, COUNT(*) AS c FROM toks2 GROUP BY tok
), n_total AS (SELECT SUM(c) AS n FROM unigram),
lm AS (
  SELECT tok, -ln(c / CAST(n AS DOUBLE)) AS nll FROM unigram, n_total
), doc_loss AS (
  SELECT doc_id, source, AVG(nll) AS doc_nll
  FROM toks2 JOIN lm USING (tok) GROUP BY doc_id, source
), src AS (
  SELECT source, COUNT(*) AS n_docs, AVG(doc_nll) AS loss
  FROM doc_loss GROUP BY source
), base AS (
  SELECT SUM(n_docs) AS total,
         SUM(loss * n_docs) / SUM(n_docs) AS ref
  FROM src
), wts AS (
  SELECT source, n_docs / CAST(total AS DOUBLE) AS p, loss,
         n_docs / CAST(total AS DOUBLE) * exp(loss - ref) AS raw_w
  FROM src, base
), z AS (SELECT SUM(raw_w) AS z FROM wts)
SELECT source, round(p, 4) AS p, round(loss, 4) AS loss,
       round(raw_w / z, 4) AS weight
FROM wts, z
"""



def ewma_anomaly_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of `ewma_anomaly_stream` (Hunter 1986 EWMA control
    charts): the identical per-key recurrence — check BEFORE update, n/
    mean/var state, min_n warm-up — folded over each key's time-ordered
    values with F.aggregate, entirely JVM-side. Emits the same anomaly
    rows the streaming operator would across any batch split.

    Rows-only for the driver: DuckDB 1.0.0's reduce() mis-evaluates
    struct accumulators (list appends drop prior state; the var
    recurrence reads a stale mean — both reproduced in isolation), so
    no SQL oracle can express the fold; the gate is an EXACT driver-side
    python recompute of the recurrence (tests/test_quality.py),
    the same discipline as the streaming op's gate.

    Scale shape (CHUNKED affine fold, r15 — the burst_detection
    treatment): the EWMA state COMPOSES. Over a chunk, the exit mean is
    affine in the entry mean (mean_out = a*mean_in + b with a the
    accumulated (1-alpha) decay and b the zero-entry fold), and the
    exit variance is affine in the entry variance plus a quadratic in
    the entry mean (var_out = W*var_in + V2*m^2 + V1*m + V0) — the
    quadratic is well-conditioned because b tracks the data, so each
    residual c_j = v_j - b_{j-1} is the SMALL deviation, not the raw
    value. Three bounded stages: (A) per (key, calendar-week) chunk,
    applyInPandas folds the 7-scalar composite; (B) a per-key stitch
    over the |weeks|-bounded composite frame chains entry states and
    global row offsets; (C) each chunk re-runs the exact recurrence IN
    PARALLEL from its stitched entry state and emits its anomaly rows.
    Per-task memory is one week of one key, not the key's whole
    history — the 1e8-events/key single-Arrow-batch ceiling is gone.
    The key's FIRST chunk folds from the true n=0 start (a=W=0), so
    the stitch is exact there by construction; later entries drift only
    by float-association ulps, which the exact gate arbitrates. The
    STREAMING op with 3-scalar state remains the unbounded-history
    online path."""
    ev = _t(spark, sf_dir, "events")
    alpha, z_thresh, min_n = 0.1, 2.0, 10

    import math

    import pandas as pd

    base = ev.select(
        "event_type", "ts", "event_id", F.col("value").cast("double").alias("value")
    )
    evd = base.withColumn("wk", F.date_trunc("week", F.col("ts")))
    wks = (
        evd.select("event_type", "wk")
        .distinct()
        .withColumn(
            "cidx",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("wk")
            )
            - 1,
        )
    )
    # feeds both the composite pass and the emit pass — persist once
    aug = scoped_persist(
        evd.join(F.broadcast(wks), ["event_type", "wk"]).drop("wk")
    )

    def _composite(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        vs = pdf["value"].astype("float64").to_numpy()
        first = int(pdf["cidx"].iloc[0]) == 0
        if first:
            # known n=0 entry: exit state is constant (a = W = 0)
            n, mean, var = 0, 0.0, 0.0
            for v in vs:
                v = float(v)
                if n == 0:
                    mean, var = v, 0.0
                else:
                    d = v - mean
                    mean = mean + alpha * d
                    var = (1.0 - alpha) * (var + alpha * d * d)
                n += 1
            a, b, w, v2, v1, v0 = 0.0, mean, 0.0, 0.0, 0.0, var
        else:
            a, b, w = 1.0, 0.0, 1.0
            v2, v1, v0 = 0.0, 0.0, 0.0
            for v in vs:
                c = float(v) - b
                v2 = (1.0 - alpha) * (v2 + alpha * a * a)
                v1 = (1.0 - alpha) * (v1 - 2.0 * alpha * c * a)
                v0 = (1.0 - alpha) * (v0 + alpha * c * c)
                w = (1.0 - alpha) * w
                b = b + alpha * c
                a = (1.0 - alpha) * a
        return pd.DataFrame(
            [
                (
                    pdf["event_type"].iloc[0],
                    int(pdf["cidx"].iloc[0]),
                    len(vs),
                    a,
                    b,
                    w,
                    v2,
                    v1,
                    v0,
                )
            ],
            columns=[
                "event_type", "cidx", "cnt", "a", "b", "w", "v2", "v1", "v0",
            ],
        )

    comps = aug.groupBy("event_type", "cidx").applyInPandas(
        _composite,
        "event_type string, cidx long, cnt long, a double, b double, "
        "w double, v2 double, v1 double, v0 double",
    )

    def _stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cidx").reset_index(drop=True)
        n, m, va = 0, 0.0, 0.0
        out = []
        for r in pdf.itertuples(index=False):
            out.append((r.event_type, r.cidx, n, m, va))
            m, va = (
                r.a * m + r.b,
                r.w * va + r.v2 * m * m + r.v1 * m + r.v0,
            )
            n += int(r.cnt)
        return pd.DataFrame(
            out, columns=["event_type", "cidx", "n_in", "mean_in", "var_in"]
        )

    stitched = comps.groupBy("event_type").applyInPandas(
        _stitch,
        "event_type string, cidx long, n_in long, mean_in double, "
        "var_in double",
    )

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        ts = pdf["ts"].to_numpy()
        vs = pdf["value"].astype("float64").to_numpy()
        et = pdf["event_type"].iloc[0]
        n = int(pdf["n_in"].iloc[0])
        mean = float(pdf["mean_in"].iloc[0])
        var = float(pdf["var_in"].iloc[0])
        rows = []
        for i in range(len(vs)):
            v = float(vs[i])
            d = v - mean
            if n >= min_n and var > 0:
                z = d / math.sqrt(var)
                if abs(z) > z_thresh:
                    rows.append((et, ts[i], v, round(mean, 6), round(z, 4)))
            if n == 0:
                mean, var = v, 0.0
            else:
                mean = mean + alpha * d
                var = (1.0 - alpha) * (var + alpha * d * d)
            n += 1
        return pd.DataFrame(
            rows, columns=["event_type", "ts", "value", "ewma_mean", "z"]
        )

    # stitched is |keys x weeks| rows — calendar-bounded, broadcast
    return (
        aug.join(F.broadcast(stitched), ["event_type", "cidx"])
        .groupBy("event_type", "cidx")
        .applyInPandas(
            _emit,
            "event_type string, ts timestamp, value double, "
            "ewma_mean double, z double",
        )
    )


def embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening (Kessy et al. 2018) of the embedding corpus — the
    decorrelation pre-step before cosine retrieval / linear probes.
    Rows-only for the driver (eigendecomposition is engine-specific
    LAPACK); the gate (tests/test_quality.py) checks the
    whitened corpus covariance IS the identity within tolerance — the
    defining property, verified on the operator's own output. Output is
    the exploded (vec_id, dim, white_val) long form: every column is a
    sortable scalar, so the driver's canonical row sort is well-defined
    (the r13 window errored canonicalizing an array<double> column).

    Scale shape: operators/embed.py::zca_whiten — single-pass partial
    Gram per partition (d x d floats) + driver-side d x d eig + map-only
    Arrow GEMM with the whitening matrix broadcast via closure. Nothing
    shuffles the vectors; the explode is a bounded x64 map-only fan-out."""
    from wp_motor_spark.operators.embed import zca_whiten

    emb = _t(spark, sf_dir, "embeddings")
    out = zca_whiten(emb, dim=64)
    return out.select(
        "vec_id", F.posexplode("white").alias("dim", "white_val")
    ).select("vec_id", "dim", F.round("white_val", 4).alias("white_val"))


def coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage subset selection (Nemhauser et al. 1978
    facility-location greedy, (1-1/e)-optimal) over token types: the
    diversity-first pick used to seed instruction-tuning pools and eval
    slices — here over word BIGRAM types, the same shingle universe the
    dedup family uses (unigrams saturate a small vocab after one pick).
    Emits (rank, doc_id, gain) for 8 rounds. Rows-only for the
    driver (iterative); the gate recomputes the greedy sequence exactly
    in python (tests/test_quality.py).

    Scale shape: operators/curate.py::coverage_select_greedy — the
    distinct (doc, token) table shuffles ONCE and persists; each round
    is an anti-join + doc-keyed partial agg + 1-row argmax collect, with
    the covered set bounded by the picked docs' union vocab."""
    from wp_motor_spark.operators.curate import coverage_select_greedy

    docs = _t(spark, sf_dir, spread=True, name="documents")
    return coverage_select_greedy(docs, k=8, ngram=2)




def c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2): keep lines that
    end in terminal punctuation, have >=5 words and don't mention
    'javascript'; drop docs with <3 surviving lines, 'lorem ipsum' or a
    '{'. The corpus text is single-line, so a multi-line page is
    synthesized deterministically from each doc's own columns with every
    hazard embedded (title without punctuation, a javascript notice on
    doc_id%3, lorem-ipsum on %5, a brace line on %7, a short line, a
    closing sentence only on even ids) — the oracle recomputes the rules
    independently over the same synthesis.

    Scale shape: MAP-ONLY (operators/cleanse.py::c4_clean) — split + HOF
    line filter + doc predicates in whole-stage codegen, no shuffle."""
    from wp_motor_spark.operators.cleanse import c4_clean

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("Overview of the corpus page\n"),
        F.lit("This is the first real sentence with enough words.\n"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("Please enable JavaScript to view the content here.\n")
               ).otherwise(F.lit("")),
        F.format_string("Document %d reports %d characters in language %s today.\n",
                        F.col("doc_id"), F.col("n_chars"), F.col("lang")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("lorem ipsum dolor sit amet and more filler words here.\n")
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("template config with brace \u007b inside this line text.\n")
               ).otherwise(F.lit("")),
        F.lit("Too short line.\n"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("The final closing sentence appears right here today!\n")
               ).otherwise(F.lit("")),
    )
    synth = docs.select("doc_id", page.alias("text"))
    out = c4_clean(synth, "text")
    return out.select(
        "doc_id", "n_lines_kept", "c4_kept",
        F.length("cleaned").alias("cleaned_len"),
    )


C4_FILTERS_SQL = r"""
WITH synth AS (
  SELECT doc_id,
    'Overview of the corpus page' || chr(10) ||
    'This is the first real sentence with enough words.' || chr(10) ||
    CASE WHEN doc_id % 3 = 0
         THEN 'Please enable JavaScript to view the content here.' || chr(10)
         ELSE '' END ||
    'Document ' || CAST(doc_id AS VARCHAR) || ' reports ' ||
    CAST(n_chars AS VARCHAR) || ' characters in language ' || lang ||
    ' today.' || chr(10) ||
    CASE WHEN doc_id % 5 = 0
         THEN 'lorem ipsum dolor sit amet and more filler words here.' || chr(10)
         ELSE '' END ||
    CASE WHEN doc_id % 7 = 0
         THEN 'template config with brace ' || chr(123) ||
              ' inside this line text.' || chr(10)
         ELSE '' END ||
    'Too short line.' || chr(10) ||
    CASE WHEN doc_id % 2 = 0
         THEN 'The final closing sentence appears right here today!' || chr(10)
         ELSE '' END AS text
  FROM documents
), lined AS (
  SELECT doc_id, text,
    list_filter(string_split(text, chr(10)), s -> trim(s) != '') AS lines
  FROM synth
), kept AS (
  SELECT doc_id, text,
    list_filter(lines, s ->
      regexp_matches(trim(s), '[.!?"]$')
      AND length(list_filter(string_split_regex(trim(s), '\s+'),
                             w -> w != '')) >= 5
      AND NOT contains(lower(s), 'javascript')) AS keep_lines
  FROM lined
)
SELECT doc_id,
  CAST(length(keep_lines) AS BIGINT) AS n_lines_kept,
  length(keep_lines) >= 3
    AND NOT contains(lower(text), 'lorem ipsum')
    AND NOT contains(lower(text), chr(123)) AS c4_kept,
  CAST(length(array_to_string(keep_lines, chr(10))) AS BIGINT) AS cleaned_len
FROM kept
"""


def unimax_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-balanced sampling weights (Chung et al. 2023,
    Algorithm 1): allocate a token budget as uniformly as possible across
    languages without exceeding `max_epochs` passes over any language's
    corpus. Budget = 50%% of the corpus total, epoch cap 2 — low-resource
    languages cap at 2 epochs, the rest split the remainder equally.

    Scale shape: ONE (lang) partial-agg count shuffle over the corpus;
    the water-filling closed form then runs as window functions over the
    |languages|-row frame (operators/curate.py::unimax_allocation — the
    capped set is a prefix of the ascending-capacity order, so no loop).
    The 1-row aggregate broadcast is the only join."""
    from wp_motor_spark.operators.curate import unimax_allocation

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("token_count")
    )
    total = counts.agg(F.sum("token_count").alias("t")).first()["t"]
    out = unimax_allocation(counts, budget=0.5 * float(total), max_epochs=2.0)
    return out.select(
        "lang",
        F.col("token_count").cast("long").alias("token_count"),
        F.round("capacity", 4).alias("capacity"),
        F.round("alloc_tokens", 4).alias("alloc_tokens"),
        F.round("weight", 6).alias("weight"),
    )


UNIMAX_SQL = r"""
WITH counts AS (
  SELECT lang,
         SUM(length(string_split(text, ' '))) AS token_count
  FROM documents GROUP BY lang
), tot AS (SELECT 0.5 * SUM(token_count) AS n FROM counts),
b AS (
  SELECT lang, CAST(token_count AS DOUBLE) AS token_count,
         token_count * 2.0 AS capacity
  FROM counts
), ranked AS (
  SELECT lang, token_count, capacity,
         ROW_NUMBER() OVER (ORDER BY capacity, lang) AS i,
         COALESCE(SUM(capacity) OVER (
            ORDER BY capacity, lang
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
         COUNT(*) OVER () AS L
  FROM b
), capped AS (
  SELECT r.*, (capacity * (L - i + 1) + cum_prev) <= t.n AS is_capped, t.n AS n
  FROM ranked r, tot t
), agg AS (
  SELECT SUM(CASE WHEN is_capped THEN capacity ELSE 0 END) AS cap_sum,
         SUM(CASE WHEN is_capped THEN 0 ELSE 1 END) AS k_free
  FROM capped
)
SELECT lang, CAST(token_count AS BIGINT) AS token_count,
       ROUND(capacity, 4) AS capacity,
       ROUND(CASE WHEN is_capped THEN capacity
                  ELSE (n - cap_sum) / k_free END, 4) AS alloc_tokens,
       ROUND(ROUND(CASE WHEN is_capped THEN capacity
                        ELSE (n - cap_sum) / k_free END / n, 9), 6) AS weight
FROM capped, agg
"""


def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gating (the crawl step in front of fetch/dedup;
    UT1-style lists block a domain and every subdomain): each doc gets a
    deterministic host from its own columns; the blocklist is derived
    from the corpus sources (odd-numbered sources are blocked at the
    REGISTRABLE domain, so subdomain suffix matching is exercised, plus
    one exact deep host). A doc is blocked when ANY dot-suffix of its
    host appears in the list.

    Scale shape: bounded suffix explode (<= label count) -> BROADCAST
    semi-join against the blocklist (real lists ~1M rows, easily
    broadcastable) -> id-keyed regroup
    (operators/cleanse.py::blocklist_filter). No all-pairs, no skew."""
    from wp_motor_spark.operators.cleanse import blocklist_filter

    docs = _t(spark, sf_dir, "documents")
    hosted = docs.select(
        "doc_id",
        F.lower(
            F.format_string("%s.%s.corpus%d.example", F.col("lang"),
                            F.col("source"), F.col("doc_id") % 3)
        ).alias("host"),
    )
    blocklist = (
        docs.select(F.col("source").alias("s")).distinct()
        .where(F.regexp_extract("s", r"(\d+)$", 1).cast("int") % 2 == 1)
        .select(F.lower(F.format_string("%s.corpus1.example", F.col("s"))).alias("entry"))
        .union(spark.createDataFrame([("zh.src0.corpus0.example",)], ["entry"]))
    )
    out = blocklist_filter(hosted, blocklist, host_col="host")
    return out.select("doc_id", "host", "blocked")


DOMAIN_BLOCKLIST_SQL = r"""
WITH hosted AS (
  SELECT doc_id,
         lower(lang || '.' || source || '.corpus' ||
               CAST(doc_id % 3 AS VARCHAR) || '.example') AS host
  FROM documents
), bl AS (
  SELECT lower(s || '.corpus1.example') AS entry
  FROM (SELECT DISTINCT source AS s FROM documents)
  WHERE CAST(regexp_extract(s, '(\d+)$', 1) AS INT) % 2 = 1
  UNION ALL SELECT 'zh.src0.corpus0.example'
)
SELECT h.doc_id, h.host,
       EXISTS (SELECT 1 FROM bl
               WHERE h.host = bl.entry
                  OR h.host LIKE '%.' || bl.entry) AS blocked
FROM hosted h
"""




def kneser_ney_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Chen & Goodman 1999,
    "An Empirical Study of Smoothing Techniques", eq. 18; fixed discount
    D=0.75): P(w2|w1) = max(c12-D,0)/c1 + D·N1+(w1,·)/c1 · Pcont(w2),
    Pcont(w2) = N1+(·,w2)/T with T = distinct bigram types. The model
    trains on EVEN doc_ids; the held-out odd docs score kn_ppl =
    exp(-mean ln P). Unseen w1 falls back to Pcont alone; a fully-unseen
    continuation floors at 1/(T+1) — the KN continuation estimate is the
    piece stupid-backoff lacks, and the pair of scores is the standard
    LM-based domain screen.

    Scale shape: counts build from the training half in bigram-keyed
    partial-agg shuffles; scoring left-joins the exploded bigram stream
    against the bigram count table AND the unigram/continuation tables
    with NO broadcast hints — distinct bigram types grow with the
    corpus, and even the whitespace-token unigram "vocab" keeps growing
    under Heaps' law (1e8-1e9 distinct tokens at 100 TB), so all three
    model joins are shuffled hash joins on their n-gram key; AQE
    broadcasts any side that is actually small at runtime. The one-row
    T total is a broadcast cross join. Only (doc,w1,w2) tuples move."""
    from wp_motor_spark.operators import text

    D = 0.75
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("train"),
        text.tokens(F.col("text")).alias("a"),
    ).where(F.size("a") >= 2)
    # NOT persisted (r16 interleaved A/B: caching the exploded string
    # stream measured 1.59 -> 2.23 s med — the columnar cache encode of
    # wide string rows costs more than re-deriving; only the bounded
    # aggregates below cache)
    bg = tok.select(
        "doc_id",
        "train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(a[i-1] as w1, a[i] as w2))"
            )
        ).alias("z"),
    ).select("doc_id", "train", "z.w1", "z.w2")
    train = bg.where("train")
    c12 = train.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = train.groupBy("w1").agg(
        F.count("*").alias("c1"), F.count_distinct("w2").alias("n1p_fw")
    )
    # |bigram types|-bounded distinct, referenced by BOTH cont and T
    types = scoped_persist(train.select("w1", "w2").distinct())
    cont = types.groupBy("w2").agg(F.count("*").alias("n1p_bw"))
    t_total = types.agg(F.count("*").alias("T"))
    test = bg.where(~F.col("train"))
    scored = (
        test.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(t_total))
    )
    pcont = F.coalesce(F.col("n1p_bw"), F.lit(0)) / F.col("T")
    p_seen_w1 = (
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - F.lit(D), F.lit(0.0))
        / F.col("c1")
        + F.lit(D) * F.col("n1p_fw") / F.col("c1") * pcont
    )
    p = F.when(F.col("c1").isNotNull(), p_seen_w1).otherwise(pcont)
    p = F.greatest(p, F.lit(1.0) / (F.col("T") + F.lit(1)))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.exp(-F.avg(F.log(p))), 3).alias("kn_ppl"),
        )
        .orderBy("doc_id")
    )


KNESER_NEY_SQL = r"""
WITH tok AS (
  SELECT doc_id, doc_id % 2 = 0 AS train,
         string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE length(string_split_regex(trim(lower(text)), '\s+')) >= 2
), bg AS (
  SELECT doc_id, train, a[i] AS w1, a[i+1] AS w2
  FROM tok, UNNEST(range(1, length(a))) AS t(i)
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE train GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1p_fw
  FROM bg WHERE train GROUP BY w1
), cont AS (
  SELECT w2, COUNT(*) AS n1p_bw
  FROM (SELECT DISTINCT w1, w2 FROM bg WHERE train) GROUP BY w2
), tt AS (
  SELECT COUNT(*) AS T FROM (SELECT DISTINCT w1, w2 FROM bg WHERE train)
), scored AS (
  SELECT b.doc_id,
    GREATEST(
      CASE WHEN c1.c1 IS NOT NULL THEN
        GREATEST(COALESCE(c12.c12, 0) - 0.75, 0.0) / c1.c1
        + 0.75 * c1.n1p_fw / c1.c1 * (COALESCE(cont.n1p_bw, 0) * 1.0 / tt.T)
      ELSE COALESCE(cont.n1p_bw, 0) * 1.0 / tt.T END,
      1.0 / (tt.T + 1)) AS p
  FROM bg b
  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
  LEFT JOIN c1 ON b.w1 = c1.w1
  LEFT JOIN cont ON b.w2 = cont.w2
  CROSS JOIN tt
  WHERE NOT b.train
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(EXP(-AVG(LN(p))), 3) AS kn_ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier (skyline) document selection over two quality
    axes (Borzsony/Kossmann/Stocker 2001 "The Skyline Operator"): a doc
    survives when NO other doc weakly dominates it on (lexical diversity,
    length) with at least one strict improvement — the multi-objective
    pick a curation pipeline uses when one scalar quality score would
    bury long-but-diverse documents.

    Scale shape: the classic sort-based 2D skyline — per-x group max,
    then ONE running-max window over the x-sorted group frame (bounded
    by distinct diversity values), broadcast back to the doc frame. No
    pairwise dominance test ever runs (the oracle's NOT EXISTS is the
    O(n^2) spec, not the plan)."""
    docs = _t(spark, sf_dir, "documents")
    from wp_motor_spark.operators import text

    toks = text.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("diversity"),
        F.col("n_chars").alias("length"),
    )
    gmax = base.groupBy("diversity").agg(F.max("length").alias("gy"))
    w = Window.orderBy(F.desc("diversity")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    gmax = gmax.withColumn("prev_max", F.max("gy").over(w))
    out = base.join(F.broadcast(gmax), "diversity")
    frontier = (F.col("length") == F.col("gy")) & (
        F.col("prev_max").isNull() | (F.col("gy") > F.col("prev_max"))
    )
    return out.select(
        "doc_id", "diversity", "length", frontier.alias("on_frontier")
    ).orderBy("doc_id")


PARETO_SQL = r"""
WITH base AS (
  SELECT doc_id,
    ROUND(length(list_distinct(string_split_regex(trim(lower(text)), '\s+')))
          * 1.0 / length(string_split_regex(trim(lower(text)), '\s+')), 6)
      AS diversity,
    n_chars AS length
  FROM documents
)
SELECT b.doc_id, b.diversity, b.length,
  NOT EXISTS (
    SELECT 1 FROM base o
    WHERE o.diversity >= b.diversity AND o.length >= b.length
      AND (o.diversity > b.diversity OR o.length > b.length)
  ) AS on_frontier
FROM base b ORDER BY doc_id
"""


def kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-point (k-center) greedy core-set over the embeddings
    table (Gonzalez 1985; Sener & Savarese 2018): k=8 maximally-spread
    vectors, seeded at the max-norm point. The diversity counterpart to
    coverage_select's token-coverage greedy — this one spreads in
    EMBEDDING space, the selection step of core-set active learning and
    of diverse eval-slice picks. Rows-only for the driver (iterative);
    the gate recomputes the greedy sequence exactly in python
    (tests/test_quality.py).

    Scale shape: operators/similarity.py::kcenter_greedy — one running
    min-distance scalar per row, k map-only update rounds + 1-row
    argmax collects; FLOPs k·n·d, never the n²d pairwise matrix."""
    from wp_motor_spark.operators.similarity import kcenter_greedy

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_greedy(emb, k=8)




def burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg two-state burst detection (Kleinberg 2002, "Bursty and
    Hierarchical Structure in Streams", the k=2 automaton): per
    event_type, inter-arrival gaps drive a Viterbi over the base state
    (exponential rate 1/mean_gap) and the burst state (rate s/mean_gap,
    s=4), paying gamma*ln(n) (gamma=1) to ENTER the burst — the standard
    burst segmentation for event/query streams. The homogeneous
    synthetic stream is correctly burst-free, so a burst is EMBEDDED
    deterministically (days 10-14 compress 20x at integer-microsecond
    floor division). Emits one row per detected burst interval.
    Rows-only for the driver (sequential Viterbi); the gate recomputes
    the exact python Viterbi (tests/test_quality.py).

    Scale shape (CHUNKED min-plus Viterbi, r15): two-state Viterbi is
    associative — each gap is a 2x2 cost matrix over the (min, +)
    semiring, and chunk composites multiply. The plan is therefore
    three bounded stages with NO per-key single-task history bound:
    (A) per (key, calendar-day) chunk, an Arrow-batched applyInPandas
    folds the chunk's gaps into ONE 2x2 composite (4 scalars; the
    previous day's last event is carried in so boundary gaps are
    covered); (B) a per-key stitch over the |days|-bounded composite
    frame (<=366 rows/key, tiny by the calendar) runs the chunk-level
    forward pass for entry-cost vectors, the chunk-level backtrack for
    exit states, and cumulative global gap offsets; (C) each chunk
    re-runs its local Viterbi IN PARALLEL from its stitched entry
    vector, backtracks from its stitched exit state, and emits burst
    runs tagged with global gap indices; runs that touch across chunk
    boundaries are merged by gaps-and-islands on gap index (the run
    frame is output-bounded — bursts are rare). Per-task memory is now
    ONE DAY of one key, not the key's whole history: a 1e9-event key
    spread over a year is ~3M events/task instead of 1e9. The per-key
    scalars (mean gap via telescoped integer-microsecond sum, n) come
    from one groupBy agg. Rows-only for the driver (sequential Viterbi
    semantics); the gate recomputes the exact monolithic python Viterbi
    and must match interval-for-interval (tests/test_quality.py)."""
    ev = _t(spark, sf_dir, spread=True, name="events")
    s_mult, gamma = 4.0, 1.0
    d10 = F.to_timestamp(F.lit("2024-01-10"))
    in_block = (F.col("ts") >= d10) & (
        F.col("ts") < F.to_timestamp(F.lit("2024-01-15"))
    )
    synth_ts = F.when(
        in_block,
        F.timestamp_micros(
            F.unix_micros(d10)
            + F.floor(
                (F.unix_micros(F.col("ts")) - F.unix_micros(d10)) / F.lit(20)
            ).cast("long")
        ),
    ).otherwise(F.col("ts"))
    ev = ev.select("event_id", "event_type", synth_ts.alias("ts"))

    import math

    import numpy as np
    import pandas as pd

    # per-key scalars: gap count and mean gap. The gap sum telescopes to
    # (last - first) in exact integer microseconds, so mg needs no
    # second scan and no float-order ambiguity.
    tot = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.unix_micros(F.min("ts")).alias("t0"),
            F.unix_micros(F.max("ts")).alias("t1"),
        )
        .where(F.col("n_ev") >= 2)
        .select(
            "event_type",
            (
                ((F.col("t1") - F.col("t0")) / F.lit(1e6))
                / (F.col("n_ev") - 1).cast("double")
            ).alias("mg"),
            (F.lit(gamma) * F.log((F.col("n_ev") - 1).cast("double"))).alias("tr"),
        )
    )
    # dense per-key chunk index over non-empty calendar days (the window
    # frame is |keys x days| — calendar-bounded, never corpus-sized)
    evd = ev.withColumn("day", F.date_trunc("week", F.col("ts")))
    days = (
        evd.select("event_type", "day")
        .distinct()
        .withColumn(
            "cidx",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            - 1,
        )
    )
    evc = evd.join(F.broadcast(days), ["event_type", "day"]).select(
        "event_type", "cidx", "ts", "event_id"
    )
    # carry each chunk's last event into the NEXT chunk (dense cidx ->
    # next non-empty day) so the boundary gap lands in exactly one chunk
    last = evc.groupBy("event_type", "cidx").agg(
        F.max(F.struct("ts", "event_id")).alias("m")
    )
    carry = last.select(
        "event_type",
        (F.col("cidx") + 1).alias("cidx"),
        F.col("m.ts").alias("ts"),
        F.col("m.event_id").alias("event_id"),
    ).join(
        days.select("event_type", "cidx"), ["event_type", "cidx"], "left_semi"
    )
    # aug feeds BOTH the composite pass and the runs pass — persist so
    # the day-index join pipeline materializes once (tracked; released
    # by the suite harness after the consuming action)
    aug = scoped_persist(evc.unionByName(carry).join(F.broadcast(tot), "event_type"))

    def _gaps(pdf: pd.DataFrame):
        pdf = pdf.sort_values(["ts", "event_id"])
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        g = np.diff(ts) / 1e6
        return pdf, ts, g

    def _chunk_composite(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, _ts, g = _gaps(pdf)
        if len(g) == 0:
            return pd.DataFrame(
                columns=["event_type", "cidx", "m00", "m01", "m10", "m11", "ng"]
            )
        mg, tr = float(pdf["mg"].iloc[0]), float(pdf["tr"].iloc[0])
        lg0, lg1 = math.log(1.0 / mg), math.log(s_mult / mg)
        inf = float("inf")
        m00, m01, m10, m11 = 0.0, inf, inf, 0.0
        for x in g:
            e0 = (x / mg) - lg0
            e1 = (s_mult * x / mg) - lg1
            n00 = e0 + min(m00, m10)
            n01 = e0 + min(m01, m11)
            n10 = min(tr + e1 + m00, e1 + m10)
            n11 = min(tr + e1 + m01, e1 + m11)
            m00, m01, m10, m11 = n00, n01, n10, n11
        return pd.DataFrame(
            [
                (
                    pdf["event_type"].iloc[0],
                    int(pdf["cidx"].iloc[0]),
                    m00,
                    m01,
                    m10,
                    m11,
                    len(g),
                )
            ],
            columns=["event_type", "cidx", "m00", "m01", "m10", "m11", "ng"],
        )

    comps = aug.groupBy("event_type", "cidx").applyInPandas(
        _chunk_composite,
        "event_type string, cidx long, m00 double, m01 double, "
        "m10 double, m11 double, ng long",
    )

    def _stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cidx").reset_index(drop=True)
        inf = float("inf")
        v0, v1 = 0.0, inf
        vs = []
        for r in pdf.itertuples(index=False):
            vs.append((v0, v1))
            v0, v1 = (
                min(r.m00 + v0, r.m01 + v1),
                min(r.m10 + v0, r.m11 + v1),
            )
        exits = [False] * len(pdf)
        e = bool(v1 < v0)  # matches the monolithic `inb = c1 < c0`
        for k in range(len(pdf) - 1, -1, -1):
            exits[k] = e
            r = pdf.iloc[k]
            ev0, ev1 = vs[k]
            if e:  # prefer staying in state 1 on ties (per-step p1 rule)
                e = ev1 + r.m11 <= ev0 + r.m10
            else:  # prefer state 0 on ties (per-step p0 rule)
                e = not (ev0 + r.m00 <= ev1 + r.m01)
        offs = pdf["ng"].cumsum().shift(fill_value=0).astype("int64")
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "cidx": pdf["cidx"],
                "v0": [v[0] for v in vs],
                "v1": [v[1] for v in vs],
                "exit1": exits,
                "goff": offs,
            }
        )

    stitched = comps.groupBy("event_type").applyInPandas(
        _stitch,
        "event_type string, cidx long, v0 double, v1 double, "
        "exit1 boolean, goff long",
    )

    def _chunk_runs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, ts, g = _gaps(pdf)
        cols = ["event_type", "start_ts", "end_ts", "gi", "gj"]
        if len(g) == 0:
            return pd.DataFrame(columns=cols)
        mg, tr = float(pdf["mg"].iloc[0]), float(pdf["tr"].iloc[0])
        lg0, lg1 = math.log(1.0 / mg), math.log(s_mult / mg)
        c0, c1 = float(pdf["v0"].iloc[0]), float(pdf["v1"].iloc[0])
        n = len(g)
        p0 = np.empty(n, dtype=bool)
        p1 = np.empty(n, dtype=bool)
        for i in range(n):
            x = float(g[i])
            p0[i] = c0 <= c1
            p1[i] = c1 <= c0 + tr
            n0 = min(c0, c1) + (x / mg) - lg0
            n1 = min(c0 + tr, c1) + (s_mult * x / mg) - lg1
            c0, c1 = n0, n1
        states = np.empty(n, dtype=bool)
        inb = bool(pdf["exit1"].iloc[0])
        for i in range(n - 1, -1, -1):
            states[i] = inb
            inb = p1[i] if inb else (not p0[i])
        et = pdf["event_type"].iloc[0]
        goff = int(pdf["goff"].iloc[0])
        tsv = pdf["ts"].to_numpy()
        rows = []
        i = 0
        while i < n:
            if states[i]:
                j = i
                while j + 1 < n and states[j + 1]:
                    j += 1
                rows.append((et, tsv[i], tsv[j + 1], goff + i, goff + j))
                i = j + 1
            i += 1
        return pd.DataFrame(rows, columns=cols)

    # stitched is |keys x weeks| rows — calendar-bounded, broadcast
    runs = (
        aug.join(F.broadcast(stitched), ["event_type", "cidx"])
        .groupBy("event_type", "cidx")
        .applyInPandas(
            _chunk_runs,
            "event_type string, start_ts timestamp, end_ts timestamp, "
            "gi long, gj long",
        )
    )
    # gaps-and-islands merge of boundary-crossing runs: adjacent global
    # gap indices (cur.gi == prev.gj + 1) are ONE burst. The run frame
    # is output-bounded — bursts, not events.
    wk = Window.partitionBy("event_type").orderBy("gi")
    islands = (
        runs.withColumn(
            "new_isl",
            F.when(
                F.col("gi") == F.lag("gj").over(wk) + 1, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "isl",
            F.sum("new_isl").over(
                wk.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("event_type", "isl")
        .agg(
            F.min("start_ts").alias("burst_start"),
            F.max("end_ts").alias("burst_end"),
            (F.max("gj") - F.min("gi") + 2).alias("n_events"),
        )
    )
    return islands.select(
        "event_type", "burst_start", "burst_end", "n_events"
    ).orderBy("event_type", "burst_start")


def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record-linkage blocking (Hernandez & Stolfo
    1995, "The Merge/Purge Problem"): sort the corpus by a blocking key
    (the 12-char normalized text prefix), slide a window of w=4 and emit
    every candidate pair inside the window with its rank distance and a
    same-key flag — the classic dedup/blocking alternative to hash
    blocking when near-keys must still meet.

    Scale shape: the global rank is the standard TWO-PHASE ranking on
    RANGE partitions — repartitionByRange(bkey, doc_id) samples the key
    distribution and splits it into balanced ordered ranges (so a
    corpus where most texts start with "the " still spreads over all
    partitions — the r12 1-char-bucket version funneled such skew
    through ONE task), then per-partition row_number + broadcast
    cumulative partition offsets (|partitions| rows, genuinely
    bounded). Pairing is an EQUI-join on rank+delta with delta exploded
    1..w-1 (bounded fan-out). The oracle computes the identical ranking
    with one ROW_NUMBER (fine at oracle scale; the two-phase plan is
    the 100 TB shape, not a semantics change)."""
    w = 4
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, 12).alias("bkey"),
    )
    ranked = _global_rank(keyed, ["bkey", "doc_id"]).select(
        "rank", "doc_id", "bkey"
    )
    right = ranked.select(
        F.col("rank").alias("b_rank"),
        F.col("doc_id").alias("b_id"),
        F.col("bkey").alias("b_key"),
    )
    pairs = (
        ranked.select(
            "rank",
            F.col("doc_id").alias("a_id"),
            F.col("bkey").alias("a_key"),
            F.explode(F.sequence(F.lit(1), F.lit(w - 1))).alias("delta"),
        )
        .withColumn("b_rank", F.col("rank") + F.col("delta"))
        .join(right, "b_rank")
    )
    return pairs.select(
        "a_id",
        "b_id",
        F.col("delta").alias("rank_distance"),
        (F.col("a_key") == F.col("b_key")).alias("same_key"),
    ).orderBy("a_id", "b_id")


SNM_SQL = r"""
WITH keyed AS (
  SELECT doc_id, substring(lower(trim(text)), 1, 12) AS bkey
  FROM documents
), ranked AS (
  SELECT doc_id, bkey,
         ROW_NUMBER() OVER (ORDER BY bkey, doc_id) AS rank
  FROM keyed
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(b.rank - a.rank AS INT) AS rank_distance,
       a.bkey = b.bkey AS same_key
FROM ranked a JOIN ranked b
  ON b.rank BETWEEN a.rank + 1 AND a.rank + 3
ORDER BY a_id, b_id
"""




def rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1998, "Using Name-Based Mappings to Increase Hit Rates"):
    each doc hashes against EVERY shard id and takes the max-weight shard
    — the consistent-placement scheme where resizing from n to n+1
    shards moves only ~1/(n+1) of the keys (the property plain
    `hash % n` lacks, and why training-shard layouts use it for
    incremental re-sharding). Assigns 8 shards and also reports the
    would-be shard at 9 to expose the stability: `moved` must be true
    for only ~1/9 of docs. Weights come from md5 (engine-portable, the
    weighted_sample_aes discipline).

    Scale shape: MAP-ONLY — an 8-element (then 9-element) literal shard
    array per row, HOF max over md5 weights inside whole-stage codegen;
    no shuffle, no UDF."""
    docs = _t(spark, sf_dir, "documents")

    def best_shard(n: int):
        weights = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.struct(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#", F.col("doc_id").cast("string"), i.cast("string")
                        )
                    ),
                    1,
                    16,
                ).alias("w"),
                i.alias("shard"),
            ),
        )
        return F.array_max(weights)["shard"].cast("int")

    out = docs.select(
        "doc_id",
        best_shard(8).alias("shard8"),
        best_shard(9).alias("shard9"),
    )
    return out.select(
        "doc_id",
        "shard8",
        "shard9",
        (F.col("shard8") != F.col("shard9")).alias("moved"),
    ).orderBy("doc_id")


RENDEZVOUS_SQL = r"""
WITH w8 AS (
  SELECT doc_id, i AS shard,
         substring(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 16) AS w
  FROM documents, UNNEST(range(0, 8)) AS t(i)
), b8 AS (
  SELECT doc_id, CAST(arg_max(shard, w) AS INT) AS shard8 FROM w8 GROUP BY doc_id
), w9 AS (
  SELECT doc_id, i AS shard,
         substring(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 16) AS w
  FROM documents, UNNEST(range(0, 9)) AS t(i)
), b9 AS (
  SELECT doc_id, CAST(arg_max(shard, w) AS INT) AS shard9 FROM w9 GROUP BY doc_id
)
SELECT b8.doc_id AS doc_id, shard8, shard9, shard8 != shard9 AS moved
FROM b8 JOIN b9 ON b8.doc_id = b9.doc_id
ORDER BY doc_id
"""


def robust_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source quality aggregation (classic robust statistics:
    10%-trimmed mean, median, MAD — Hampel/Huber; the aggregation a
    curation dashboard uses so a handful of pathological documents can't
    swing a source's quality read the way a plain mean does). The
    quality proxy is lexical diversity (distinct tokens / tokens).

    Scale shape: BOUNDED state throughout — the ccnet_buckets
    exact-percentile pattern, twice. A (source, q) count HISTOGRAM (one
    scalar buffer per distinct value) + a per-source cumulative window
    over DISTINCT values gives each value-run its 1-based rank span
    [lo+1, hi]; the median is the mean of the values at 0-based ranks
    floor((n-1)/2) / ceil((n-1)/2) (one conditional max each), the
    trimmed mean is a rank-bounded conditional agg (each run contributes
    q x its overlap with [k+1, n-k]), and the MAD re-runs the same
    rank selection on a second histogram of |q - median| after a
    broadcast |sources|-row join. The r12 version collect_list'd ALL
    per-doc values per source into one row — docs-per-source is
    billions at 100 TB; this plan's only per-key state is one count per
    DISTINCT value and every window sort spills. No UDF, no arrays."""
    docs = _t(spark, sf_dir, "documents")
    from wp_motor_spark.operators import text

    toks = text.tokens(F.col("text"))
    # persist the narrow (source, q) frame (r16): it feeds the rank-span
    # branch AND the |q - median| deviation branch, and without the cache
    # the text tokenization ran twice. ~16 bytes/row, disk-spillable —
    # caching the metadata proxy, never the text payload (guide §2.3).
    q = scoped_persist(
        docs.select(
            "source",
            (F.size(F.array_distinct(toks)) / F.size(toks)).alias("q"),
        ).where(F.col("q").isNotNull())
    )

    def _rank_spans(vals: DataFrame, col: str) -> DataFrame:
        """(source, v, cnt, lo, hi, n): value-run rank spans per source."""
        hist = vals.groupBy("source", col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.partitionBy("source").orderBy(col)
        cum = (
            hist.withColumn("hi", F.sum("cnt").over(w))
            .withColumn("lo", F.col("hi") - F.col("cnt"))
        )
        n = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
        return cum.join(F.broadcast(n), "source")

    def _median_expr(col: str):
        """Exact median via the two 0-based rank positions (odd n picks
        the same value twice; even n averages the middle pair)."""
        i1 = F.floor((F.col("n") - 1) / 2)
        i2 = F.ceil((F.col("n") - 1) / 2)
        v1 = F.max(
            F.when((F.col("lo") <= i1) & (i1 < F.col("hi")), F.col(col))
        )
        v2 = F.max(
            F.when((F.col("lo") <= i2) & (i2 < F.col("hi")), F.col(col))
        )
        return (v1 + v2) / 2

    spans = _rank_spans(q, "q")
    k = F.floor(F.col("n") * F.lit(0.1))
    # run [lo+1, hi] (1-based) overlapped with the kept band [k+1, n-k]
    overlap = F.greatest(
        F.least(F.col("hi"), F.col("n") - k)
        - F.greatest(F.col("lo") + 1, k + 1)
        + 1,
        F.lit(0).cast("long"),
    )
    # |sources|-bounded; persisted because it broadcasts into the
    # deviation branch AND joins the final output (was planned twice)
    stats = scoped_persist(
        spans.groupBy("source").agg(
            F.max("n").alias("n_docs"),
            (
                F.sum(F.col("q") * overlap.cast("double"))
                / F.max(F.col("n") - 2 * k).cast("double")
            ).alias("__tmean"),
            _median_expr("q").alias("__med"),
        )
    )
    devs = q.join(
        F.broadcast(stats.select("source", "__med")), "source"
    ).select("source", F.abs(F.col("q") - F.col("__med")).alias("d"))
    mad = (
        _rank_spans(devs, "d")
        .groupBy("source")
        .agg(_median_expr("d").alias("__mad"))
    )
    return (
        stats.join(F.broadcast(mad), "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round("__tmean", 6).alias("trimmed_mean"),
            F.round("__med", 6).alias("median"),
            F.round("__mad", 6).alias("mad"),
        )
        .orderBy("source")
    )


ROBUST_STATS_SQL = r"""
WITH q AS (
  SELECT source,
         length(list_distinct(string_split_regex(trim(lower(text)), '\s+')))
           * 1.0 / length(string_split_regex(trim(lower(text)), '\s+')) AS q
  FROM documents
), arr AS (
  SELECT source, list_sort(list(q)) AS xs FROM q GROUP BY source
), med AS (
  SELECT source, xs, length(xs) AS n,
    CASE WHEN length(xs) % 2 = 1 THEN xs[(length(xs) + 1) // 2]
         ELSE (xs[length(xs) // 2] + xs[length(xs) // 2 + 1]) / 2 END AS median
  FROM arr
), trimmed AS (
  SELECT source, n, median, xs,
    list_slice(xs, CAST(floor(n * 0.1) AS INT) + 1,
               n - CAST(floor(n * 0.1) AS INT)) AS tx
  FROM med
), devs AS (
  SELECT source, n, median, tx,
    list_sort(list_transform(xs, x -> abs(x - median))) AS dv
  FROM trimmed
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
  ROUND(list_aggregate(tx, 'sum') / length(tx), 6) AS trimmed_mean,
  ROUND(median, 6) AS median,
  ROUND(CASE WHEN length(dv) % 2 = 1 THEN dv[(length(dv) + 1) // 2]
             ELSE (dv[length(dv) // 2] + dv[length(dv) // 2 + 1]) / 2 END,
        6) AS mad
FROM devs ORDER BY source
"""


# --------------------------------------------------------------------------
# NEW r13 operators (registry tail — lead the r14 window)
# --------------------------------------------------------------------------


def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade level (Flesch 1948;
    Kincaid et al. 1975) — the readability screen education-quality
    corpus filters (e.g. FineWeb-Edu-style pipelines) run per document.
    Syllables use the standard vowel-group heuristic (runs of [aeiouy],
    min 1 per word); sentences split on [.!?]+ runs, blank segments
    dropped, floor 1.

    Scale shape: MAP-ONLY — tokenization, the per-word syllable fold,
    and the sentence count are all HOF expressions inside whole-stage
    codegen; no shuffle, no UDF, text never moves."""
    docs = _t(spark, sf_dir, "documents")
    words = text.tokens(F.col("text"))
    n_words = F.size(words)
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda a, w: a
        + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
        ).cast("long"),
    )
    n_sent = F.greatest(
        F.size(F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    )
    wps = n_words.cast("double") / n_sent
    spw = syl.cast("double") / n_words
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("n_syllables"),
        F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4).alias("fre"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    )


FLESCH_SQL = r"""
WITH tok AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), m AS (
  SELECT doc_id,
    len(a) AS n_words,
    GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'),
                             s -> trim(s) != '')), 1) AS n_sentences,
    list_sum(list_transform(a,
      w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS n_syllables
  FROM tok
)
SELECT doc_id, n_words, n_sentences, CAST(n_syllables AS BIGINT) AS n_syllables,
  round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
               - 84.6 * (n_syllables * 1.0 / n_words), 4) AS fre,
  round(0.39 * (n_words * 1.0 / n_sentences)
        + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 4) AS fk_grade
FROM m
"""


def yule_k_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity characteristics per document: Yule's K (Yule
    1944, "The Statistical Study of Literary Vocabulary": K = 1e4 *
    (sum_t f_t^2 - N) / N^2 — repetitiveness that is length-robust,
    unlike raw TTR) and Herdan's C (ln V / ln N). Low K + high C =
    varied vocabulary; repetition loops and keyword-stuffed spam spike
    K — the length-insensitive cousin of the `doc_repetition` screen.

    Scale shape: one (doc_id, token) partial-agg shuffle builds the
    per-doc frequency spectrum, one doc-keyed rollup closes it; sums
    are exact integers until the final division. No model table, no
    broadcast."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("v_types"),
            F.sum(F.col("c") * F.col("c")).alias("__s2"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "v_types",
            F.round(
                F.lit(1e4)
                * (F.col("__s2") - F.col("n_tokens"))
                / (F.col("n_tokens") * F.col("n_tokens")).cast("double"),
                4,
            ).alias("yule_k"),
            F.when(
                F.col("n_tokens") > 1,
                F.round(
                    F.log(F.col("v_types").cast("double"))
                    / F.log(F.col("n_tokens").cast("double")),
                    4,
                ),
            ).alias("herdan_c"),
        )
    )


YULE_K_SQL = r"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok != ''
  GROUP BY doc_id, tok
), agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS v_types,
         SUM(c * c) AS s2
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, v_types,
  round(1e4 * (s2 - n_tokens) / CAST(n_tokens * n_tokens AS DOUBLE), 4)
    AS yule_k,
  CASE WHEN n_tokens > 1
       THEN round(ln(CAST(v_types AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)), 4)
  END AS herdan_c
FROM agg
"""


def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup reweighting (He et al. 2024, "SoftDedup: an Efficient
    Data Reweighting Method for Speeding Up Language Model
    Pre-training"): instead of DELETING near-duplicates, down-weight
    documents by their n-gram "commonness" — here the arithmetic mean
    corpus frequency of the doc's word trigrams — so duplicated
    boilerplate contributes less gradient without discarding its novel
    tail. Weight = m_min / m_d (normalized to the least-common doc;
    exact in doubles, no order-dependent corpus sums).

    Scale shape: one trigram-keyed shuffle builds c(g); the commonness
    join back onto the (doc, gram) stream carries NO broadcast hint
    (trigram types grow near-linearly with the corpus — the r13
    BCAST_GROWING lint rule); the m_min normalizer is a one-row
    broadcast. Docs with <3 tokens have no trigram and drop out, as in
    the paper's n-gram granularity."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    tok = docs.select("doc_id", text.tokens(F.col("text")).alias("a")).where(
        F.size("a") >= 3
    )
    tri = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 2),"
                " i -> concat_ws(' ', a[i-1], a[i], a[i+1]))"
            )
        ).alias("g"),
    )
    cg = tri.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    m = (
        tri.join(cg, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("__m"),
        )
    )
    m_min = m.agg(F.min("__m").alias("__mmin"))
    return m.crossJoin(F.broadcast(m_min)).select(
        "doc_id",
        "n_grams",
        F.round("__m", 4).alias("commonness"),
        F.round(F.col("__mmin") / F.col("__m"), 6).alias("weight"),
    )


SOFTDEDUP_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 3
), tri AS (
  SELECT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
  FROM tok, UNNEST(range(1, len(a) - 1)) AS t(i)
), cg AS (
  SELECT g, count(*) AS c FROM tri GROUP BY g
), m AS (
  SELECT doc_id, count(*) AS n_grams,
         SUM(c) * 1.0 / count(*) AS m
  FROM tri JOIN cg USING (g) GROUP BY doc_id
), mm AS (SELECT MIN(m) AS mmin FROM m)
SELECT doc_id, n_grams, round(m, 4) AS commonness,
       round(mmin / m, 6) AS weight
FROM m, mm
"""


def refinedweb_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-wise boilerplate removal (Penedo et al.
    2023, "The RefinedWeb Dataset for Falcon LLM", line-wise filters):
    drop lines that are mostly-uppercase, purely numeric, social
    counters ("N likes/views/..."), or single-word; re-join the
    survivors and keep the document only if <=20% of its characters
    were removed — the structural cleanup pass between HTML extraction
    and dedup.

    Scale shape: MAP-ONLY — the line split, the four rule predicates,
    and the re-join are all HOF expressions (filter/transform/
    aggregate) inside whole-stage codegen; no explode, no shuffle, the
    text column never moves."""
    docs = _t(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")

    def _keep(ln):
        t = F.trim(ln)
        alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
        upper = F.length(F.regexp_replace(t, "[^A-Z]", ""))
        mostly_upper = (alpha > 0) & (upper.cast("double") / alpha > 0.6)
        numeric = (t != "") & t.rlike(r"^[0-9 .,%]+$")
        counter = t.rlike(r"(?i)^\d+ (likes?|views?|comments?|shares?)$")
        one_word = ~t.rlike(r"\S\s+\S")
        return ~(mostly_upper | numeric | counter | one_word)

    kept = F.filter(lines, _keep)
    orig_chars = F.length(F.col("text"))
    kept_chars = F.length(F.array_join(kept, "\n"))
    removed = F.when(
        orig_chars > 0,
        (orig_chars - kept_chars).cast("double") / orig_chars,
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.round(removed, 4).alias("removed_char_frac"),
        (removed <= 0.2).alias("kept_doc"),
    )


REFINEDWEB_SQL = r"""
WITH l AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines
  FROM documents
), k AS (
  SELECT doc_id, text, lines,
    list_filter(lines, ln -> NOT (
      (length(regexp_replace(trim(ln), '[^A-Za-z]', '', 'g')) > 0
       AND length(regexp_replace(trim(ln), '[^A-Z]', '', 'g')) * 1.0
           / length(regexp_replace(trim(ln), '[^A-Za-z]', '', 'g')) > 0.6)
      OR (trim(ln) != '' AND regexp_full_match(trim(ln), '[0-9 .,%]+'))
      OR regexp_full_match(lower(trim(ln)), '\d+ (likes?|views?|comments?|shares?)')
      OR NOT regexp_matches(trim(ln), '\S\s+\S')
    )) AS kept
  FROM l
)
SELECT doc_id,
  len(lines) AS n_lines,
  len(kept) AS n_kept,
  -- COALESCE(..., 0): DuckDB's string_agg over an EMPTY list is NULL,
  -- Spark's array_join([]) is '' — match the Spark all-lines-removed
  -- semantics (removed_char_frac = 1.0) instead of propagating NULL.
  round(CASE WHEN length(text) > 0
        THEN (length(text) - COALESCE(length(list_aggregate(
                list_transform(kept, x -> x), 'string_agg', chr(10))), 0))
             * 1.0 / length(text) ELSE 0.0 END, 4) AS removed_char_frac,
  CASE WHEN length(text) > 0
       THEN (length(text) - COALESCE(length(
                list_aggregate(kept, 'string_agg', chr(10))), 0))
            * 1.0 / length(text) ELSE 0.0 END <= 0.2 AS kept_doc
FROM k
"""


def language_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language-balance diagnostics (the dashboard read next to
    `unimax_weights`): per-language token counts rolled into the Gini
    coefficient, Shannon entropy, and the effective language count
    exp(H) — the three numbers a multilingual data team watches while
    tuning sampling temperature (Chung et al. 2023 UniMax frames the
    problem; Gini/entropy are the standard balance measures).

    Scale shape: a |languages|-row rollup (map-side partial agg), then
    ALL index arithmetic runs over the sorted |languages| array in one
    HOF fold — deterministic summation order, so the doubles match the
    oracle bit-for-bit. One row out."""
    docs = _t(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum(text.token_count_ws(F.col("text"))).alias("n_tok")
    )
    arr = per_lang.agg(
        F.sort_array(F.collect_list(F.struct("n_tok", "lang"))).alias("xs")
    )
    n = F.size("xs")
    total = F.aggregate(
        F.col("xs"), F.lit(0).cast("long"), lambda a, x: a + x["n_tok"]
    )
    # gini = sum_i (2i - n - 1) x_i / (n * total), i 1-based over ASC order
    gnum = F.aggregate(
        F.zip_with(
            F.col("xs"),
            F.sequence(F.lit(1), n),
            lambda x, i: (2 * i.cast("long") - n - 1) * x["n_tok"],
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    h = F.aggregate(
        F.col("xs"),
        F.lit(0.0),
        lambda a, x: a
        - F.when(
            x["n_tok"] > 0,
            (x["n_tok"].cast("double") / total)
            * F.log(x["n_tok"].cast("double") / total),
        ).otherwise(F.lit(0.0)),
    )
    return arr.select(
        n.alias("n_langs"),
        total.alias("total_tokens"),
        F.round(gnum.cast("double") / (n.cast("long") * total).cast("double"), 6).alias("gini"),
        F.round(h, 6).alias("shannon_h"),
        F.round(F.exp(h), 4).alias("effective_langs"),
    )


LANG_GINI_SQL = r"""
WITH per_lang AS (
  SELECT lang,
    SUM(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END) AS n_tok
  FROM documents GROUP BY lang
), arr AS (
  SELECT list_sort(list(ROW(n_tok, lang))) AS xs FROM per_lang
), m AS (
  SELECT len(xs) AS n,
    list_sum(list_transform(xs, x -> x[1])) AS total,
    list_sum(list_transform(list_zip(xs, range(1, len(xs) + 1)),
      p -> (2 * p[2] - len(xs) - 1) * p[1][1])) AS gnum,
    list_aggregate(list_transform(xs,
      x -> CASE WHEN x[1] > 0
           THEN -(x[1] * 1.0 / list_sum(list_transform(xs, y -> y[1])))
                * ln(x[1] * 1.0 / list_sum(list_transform(xs, y -> y[1])))
           ELSE 0.0 END), 'sum') AS h
  FROM arr
)
SELECT n AS n_langs, CAST(total AS BIGINT) AS total_tokens,
  round(gnum * 1.0 / (n * total), 6) AS gini,
  round(h, 6) AS shannon_h,
  round(exp(h), 4) AS effective_langs
FROM m
"""


import math as _math

# Fellegi-Sunter m/u probabilities (classic published-style priors) and
# their log-weights, precomputed ONCE in python so the Spark literals and
# the DuckDB SQL literals are the SAME doubles (no cross-libm ln drift).
_FS_FIELDS = {
    # field: (m, u)
    "seg": (0.90, 0.20),
    "name_suffix": (0.85, 0.01),
    "bal": (0.80, 0.05),
}
_FS_W = {
    f: (_math.log(m / u), _math.log((1 - m) / (1 - u)))
    for f, (m, u) in _FS_FIELDS.items()
}


def fellegi_sunter_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969, "A Theory
    for Record Linkage"): blocked candidate pairs over `customer`
    scored by the sum of per-field log-likelihood weights — agreement
    on a field contributes ln(m/u), disagreement ln((1-m)/(1-u)) — the
    decision-theoretic scoring every dedup/entity-resolution system
    (Splink, dedupe.io) still implements. Fields: market segment,
    name suffix (the LAST 2 characters of c_name — the customer-number
    tail, a surrogate identifier fragment), account balance within 100.
    Pairs with score > 0 classify as links. Top-100 by score for a
    bounded result.

    Scale shape: BLOCKING bounds the pair space — the self-join key is
    (nation, acctbal/1000 bucket), so candidates are |block|^2 per
    block, never corpus^2 (the Hernandez-Stolfo alternative is
    snm_candidate_pairs); the m/u weights are python-precomputed
    literals folded into codegen. One equi-join shuffle + top-K."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.substring("c_name", -2, 2).alias("__nk"),
        "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000).alias("__blk"),
    )
    a = cust.select(*[F.col(c).alias(f"a_{c}") for c in cust.columns])
    b = cust.select(*[F.col(c).alias(f"b_{c}") for c in cust.columns])
    pairs = a.join(
        b,
        (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
        & (F.col("a___blk") == F.col("b___blk"))
        & (F.col("a_c_custkey") < F.col("b_c_custkey")),
    )
    g_seg = F.col("a_c_mktsegment") == F.col("b_c_mktsegment")
    g_name = F.col("a___nk") == F.col("b___nk")
    g_bal = F.abs(F.col("a_c_acctbal") - F.col("b_c_acctbal")) < 100
    score = (
        F.when(g_seg, _FS_W["seg"][0]).otherwise(_FS_W["seg"][1])
        + F.when(g_name, _FS_W["name_suffix"][0]).otherwise(
            _FS_W["name_suffix"][1]
        )
        + F.when(g_bal, _FS_W["bal"][0]).otherwise(_FS_W["bal"][1])
    )
    return (
        pairs.select(
            F.col("a_c_custkey").alias("cust_a"),
            F.col("b_c_custkey").alias("cust_b"),
            g_seg.alias("agree_seg"),
            g_name.alias("agree_name"),
            g_bal.alias("agree_bal"),
            F.round(score, 4).alias("fs_score"),
            (score > 0).alias("is_link"),
        )
        .orderBy(F.desc("fs_score"), "cust_a", "cust_b")
        .limit(100)
    )


FELLEGI_SUNTER_SQL = rf"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         substring(c_name, length(c_name) - 1, 2) AS nk, c_acctbal,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS blk
  FROM customer
), p AS (
  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
    a.c_mktsegment = b.c_mktsegment AS agree_seg,
    a.nk = b.nk AS agree_name,
    abs(a.c_acctbal - b.c_acctbal) < 100 AS agree_bal
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
   AND a.c_custkey < b.c_custkey
), s AS (
  SELECT *,
    (CASE WHEN agree_seg THEN CAST({_FS_W['seg'][0]!r} AS DOUBLE)
          ELSE CAST({_FS_W['seg'][1]!r} AS DOUBLE) END
   + CASE WHEN agree_name THEN CAST({_FS_W['name_suffix'][0]!r} AS DOUBLE)
          ELSE CAST({_FS_W['name_suffix'][1]!r} AS DOUBLE) END
   + CASE WHEN agree_bal THEN CAST({_FS_W['bal'][0]!r} AS DOUBLE)
          ELSE CAST({_FS_W['bal'][1]!r} AS DOUBLE) END)
      AS raw
  FROM p
)
SELECT cust_a, cust_b, agree_seg, agree_name, agree_bal,
       round(raw, 4) AS fs_score, raw > 0 AS is_link
FROM s
ORDER BY fs_score DESC, cust_a, cust_b
LIMIT 100
"""


def kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch distinct counting with set operations
    (Bar-Yossef et al. 2002 k-minimum-values; the theta-sketch framing
    of Dasgupta et al. 2016): estimate distinct users of the two
    busiest event types, of their UNION (k smallest of the merged hash
    sets — a valid KMV sketch of the union), and of their INTERSECTION
    (inclusion-exclusion over the three estimates; its n_hashes/theta
    are 0 sentinels, NOT NULL — pandas floats an integer column that
    contains NULL, which would break the driver's exact compare) —
    the mergeable
    cardinality machinery cross-source audience/overlap dashboards run
    at 100 TB, with md5-derived hashes so the DuckDB oracle replays the
    sketch EXACTLY (the engine-portable weighted_sample_aes
    discipline; the xxhash64 twin is sketch_distinct_users).

    Scale shape: hashes are MAP-ONLY; each per-type k-smallest is the
    two-phase exact top-k (partition-local <=k survivors, then a
    global rank over <=k*P rows — no reducer sees a type's full user
    set); the union sketch merges two k-row frames. Estimates are
    (k-1)/theta when the sketch saturates, the exact distinct count
    below k."""
    K = 256
    ev = _t(spark, sf_dir, "events")
    top2 = (
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(2)
        .select("event_type")
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / (float(16**13) + 1.0)
    hashed = (
        ev.join(F.broadcast(top2), "event_type")
        .select("event_type", h.alias("h"))
        .distinct()
    )

    def _k_smallest(df: DataFrame, key: str) -> DataFrame:
        order = (F.asc("h"),)
        w_part = Window.partitionBy(key, F.spark_partition_id()).orderBy(*order)
        w_all = Window.partitionBy(key).orderBy(*order)
        return (
            df.withColumn("__pr", F.row_number().over(w_part))
            .where(F.col("__pr") <= K)
            .withColumn("__r", F.row_number().over(w_all))
            .where(F.col("__r") <= K)
        )

    # NOT persisted (r16 interleaved A/B, 5 reps/arm at sf0.1: min 1.65 vs
    # 1.68, med 2.05 vs 1.94): sk's two consumers reference IDENTICAL
    # subtrees, so AQE ReuseExchange already executes the events scan +
    # md5 + distinct once — a cache adds nothing here, unlike
    # market_basket's filter-mismatched item subtree.
    sk = _k_smallest(hashed, "event_type")
    per_type = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hashes"), F.max("h").alias("theta")
    )
    est = F.when(
        F.col("n_hashes") < K, F.col("n_hashes").cast("double")
    ).otherwise((K - 1) / F.col("theta"))
    typed = per_type.select(
        F.col("event_type").alias("set_name"),
        "n_hashes",
        F.round("theta", 8).alias("theta"),
        F.round(est, 4).alias("estimate"),
    )
    merged = _k_smallest(
        sk.select(F.lit("union").alias("event_type"), "h").distinct(), "event_type"
    )
    u = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hashes"), F.max("h").alias("theta")
    ).select(
        F.col("event_type").alias("set_name"),
        "n_hashes",
        F.round("theta", 8).alias("theta"),
        F.round(est, 4).alias("estimate"),
    )
    both = typed.unionByName(u)
    inter = (
        both.agg(
            (
                F.sum(F.when(F.col("set_name") != "union", F.col("estimate")))
                - F.sum(F.when(F.col("set_name") == "union", F.col("estimate")))
            ).alias("__i")
        )
        .select(
            F.lit("intersect").alias("set_name"),
            F.lit(0).cast("long").alias("n_hashes"),
            F.lit(0.0).alias("theta"),
            F.round("__i", 4).alias("estimate"),
        )
    )
    return both.unionByName(inter).orderBy("set_name")


KMV_THETA_SQL = r"""
WITH top2 AS (
  SELECT event_type FROM events GROUP BY event_type
  ORDER BY count(*) DESC, event_type LIMIT 2
), hashed AS (
  SELECT DISTINCT event_type,
    (('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
     + 1.0) / (power(16, 13) + 1.0) AS h
  FROM events JOIN top2 USING (event_type)
), sk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
  FROM hashed QUALIFY r <= 256
), per_type AS (
  SELECT event_type AS set_name, count(*) AS n_hashes, max(h) AS theta
  FROM sk GROUP BY event_type
), mhash AS (
  SELECT DISTINCT h FROM sk
), msk AS (
  SELECT h, row_number() OVER (ORDER BY h) AS r FROM mhash QUALIFY r <= 256
), uni AS (
  SELECT 'union' AS set_name, count(*) AS n_hashes, max(h) AS theta FROM msk
), allsets AS (
  SELECT set_name, n_hashes, round(theta, 8) AS theta,
    round(CASE WHEN n_hashes < 256 THEN n_hashes * 1.0
               ELSE 255 / theta END, 4) AS estimate
  FROM (SELECT * FROM per_type UNION ALL SELECT * FROM uni)
), inter AS (
  SELECT 'intersect' AS set_name, CAST(0 AS BIGINT) AS n_hashes,
    CAST(0.0 AS DOUBLE) AS theta,
    round(SUM(CASE WHEN set_name != 'union' THEN estimate END)
          - SUM(CASE WHEN set_name = 'union' THEN estimate END), 4) AS estimate
  FROM allsets
)
SELECT * FROM allsets UNION ALL SELECT * FROM inter
ORDER BY set_name
"""


def quality_ensemble_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda-count quality fusion (de Borda 1781; rank fusion as used
    for LLM data curation ensembles, e.g. combining heuristic +
    classifier + perplexity screens): three quality signals — lexical
    diversity, mean-word-length closeness to 5, stopword ratio — each
    produce a FULL corpus ranking; a document's Borda score is the sum
    of its three ranks, and the final read is the top-20 consensus
    docs. Rank fusion beats score averaging when signal scales are
    incommensurable.

    Scale shape: each full ranking is the shared `_global_rank`
    two-phase pattern (repartitionByRange + broadcast partition
    offsets — no single-partition window anywhere); the three ranked
    frames equi-join on doc_id; the final top-20 is a
    TakeOrderedAndProject. Signals round to 6 dp with doc_id
    tie-breaks so every rank is engine-reproducible. The signal frame
    persists (r16): the three rank passes each materialize their own
    range-partitioned copy, and without the persist each copy re-ran
    the text HOF tokenization — 3 scans of `text` for one 3-double
    signal row per doc (guide §2.3: shuffle/recompute narrow rows,
    not payloads)."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    base = scoped_persist(docs.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("s_div"),
        F.round(-F.abs(text.mean_word_length(F.col("text")) - 5.0), 6).alias(
            "s_len"
        ),
        F.round(text.stopword_ratio(F.col("text")), 6).alias("s_stop"),
    ))
    r1 = _global_rank(
        base.select("doc_id", "s_div"), [F.desc("s_div"), F.asc("doc_id")], "r_div"
    ).select("doc_id", "r_div")
    r2 = _global_rank(
        base.select("doc_id", "s_len"), [F.desc("s_len"), F.asc("doc_id")], "r_len"
    ).select("doc_id", "r_len")
    r3 = _global_rank(
        base.select("doc_id", "s_stop"),
        [F.desc("s_stop"), F.asc("doc_id")],
        "r_stop",
    ).select("doc_id", "r_stop")
    return (
        r1.join(r2, "doc_id")
        .join(r3, "doc_id")
        .select(
            "doc_id",
            "r_div",
            "r_len",
            "r_stop",
            (F.col("r_div") + F.col("r_len") + F.col("r_stop")).alias("borda"),
        )
        .orderBy("borda", "doc_id")
        .limit(20)
    )


_ENSEMBLE_STOPWORDS = "'the','of','and','to','in','is','was','for','on','that','with','as','are','at','this'"

QUALITY_ENSEMBLE_SQL = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), base AS (
  SELECT doc_id,
    round(len(list_distinct(a)) * 1.0 / GREATEST(len(a), 1), 6) AS s_div,
    round(-abs(list_sum(list_transform(a, w -> length(w))) * 1.0
               / GREATEST(len(a), 1) - 5.0), 6) AS s_len,
    round(len(list_filter(a, w -> w IN ({_ENSEMBLE_STOPWORDS}))) * 1.0
          / GREATEST(len(a), 1), 6) AS s_stop
  FROM tok
), ranked AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY s_div DESC, doc_id) AS r_div,
    row_number() OVER (ORDER BY s_len DESC, doc_id) AS r_len,
    row_number() OVER (ORDER BY s_stop DESC, doc_id) AS r_stop
  FROM base
)
SELECT doc_id, r_div, r_len, r_stop,
       r_div + r_len + r_stop AS borda
FROM ranked
ORDER BY borda, doc_id
LIMIT 20
"""


_PR_PRIMES = (7919, 104729, 1299709)


def _host_edges(docs: DataFrame) -> DataFrame:
    """The deterministic synthesized host link graph shared by
    host_pagerank and host_label_propagation: each doc's source host
    links to three doc_id-derived hub hosts (the corpus has no link
    column — the url_canonicalize synthesis precedent)."""
    src = F.concat(F.col("source"), F.lit(".example.org"))
    dsts = [
        F.concat(
            F.lit("h"),
            F.pmod(F.col("doc_id") * p, F.lit(37)).cast("string"),
            F.lit(".example.org"),
        )
        for p in _PR_PRIMES
    ]
    return docs.select(
        src.alias("src"), F.explode(F.array(*dsts)).alias("dst")
    ).distinct()


def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (Page et al. 1999; d=0.85, 4 power
    iterations with uniform dangling-mass redistribution) — the
    host-level quality prior crawl-corpus pipelines (CommonCrawl
    ranking, FineWeb-style curation) compute to weight domains. The
    corpus has no link column, so the host graph is SYNTHESIZED
    deterministically (source hosts link to doc_id-derived hub hosts —
    the url_canonicalize precedent), which lets the DuckDB oracle
    replay all four iterations exactly; per-iteration ranks round to
    10 dp so cross-engine sum-order noise (~1e-16) cannot cascade.

    Scale shape (r16 loop slim-down, guide §2.4): the edge list is
    |hosts|-bounded after DISTINCT and persists across iterations WITH
    its out-degrees pre-attached (the edges x outdeg join is
    loop-invariant — it used to run every round); |nodes| is a python
    literal from one count of the persisted node frame (the former
    per-round 1-row crossJoin subquery is gone); the dangling-host
    FLAG is precomputed on the node frame, so the per-round dangling
    mass is a filter+agg over the rank frame instead of an anti-join.
    Each iteration is one equi-join shuffle (edges x ranks on src) + a
    dst-keyed partial agg + the flag filter agg; checkpoints are lazy
    so all four rounds execute inside one job. Per-iteration float
    formulas are unchanged (same IEEE ops; (1-d)/n and dm/n now divide
    by a literal — identical doubles), and the 10-dp per-iteration
    round keeps the oracle replay exact as before."""
    d = 0.85
    docs = _t(spark, sf_dir, "documents")
    edges = scoped_persist(_host_edges(docs))
    nodes = scoped_persist(
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # loop-invariant: per-edge out-degree attached ONCE; |hosts|-bounded
    eo = scoped_persist(edges.join(outdeg, "src"))
    # dangling flag precomputed on the static node frame (outdeg.src is
    # distinct, so the left join is 1:1)
    nodes_f = scoped_persist(
        nodes.join(
            outdeg.select(F.col("src").alias("host"), F.lit(False).alias("__d")),
            "host",
            "left",
        ).select("host", F.coalesce("__d", F.lit(True)).alias("__dang"))
    )
    n_nodes = nodes.count()
    ranks = nodes_f.select(
        "host", "__dang", F.lit(1.0 / n_nodes).alias("r")
    )
    # each iteration references `ranks` TWICE (dangling mass + edge
    # contributions): without materialization the lineage doubles per
    # round (2^4 copies of the base plan — measured 9.6 s at sf0.01 on
    # plan build alone). localCheckpoint truncates lineage each round
    # (lazy: materializes once inside the final action); the frame is
    # |hosts| rows (the neardup_pagerank CC-loop discipline).
    for _ in range(4):
        ranks = ranks.localCheckpoint(eager=False)
        dangling = ranks.where(F.col("__dang")).agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            eo.join(ranks.select(F.col("host").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes_f.join(contrib, nodes_f["host"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "host",
                "__dang",
                F.round(
                    F.lit((1 - d) / n_nodes)
                    + d
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dm") / F.lit(n_nodes)
                    ),
                    10,
                ).alias("r"),
            )
        )
    return (
        ranks.select("host", F.round("r", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "host")
        .limit(20)
    )


def _host_pagerank_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    head = f"""
WITH edges AS (
  SELECT DISTINCT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
), nodes AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
), outdeg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT host, CAST(1.0 AS DOUBLE) / n AS r FROM nodes, nn)"""
    iters = []
    for k in range(1, 5):
        p = k - 1
        iters.append(f""",
d{k} AS (
  SELECT COALESCE(SUM(r), 0.0) AS dm FROM r{p}
  WHERE host NOT IN (SELECT src FROM outdeg)
), c{k} AS (
  SELECT dst, SUM(r / deg) AS c
  FROM edges JOIN outdeg USING (src) JOIN r{p} ON r{p}.host = edges.src
  GROUP BY dst
), r{k} AS (
  SELECT host,
    round(CAST(0.15 AS DOUBLE) / n
          + CAST(0.85 AS DOUBLE) * (COALESCE(c, 0.0) + dm / n), 10) AS r
  FROM nodes LEFT JOIN c{k} ON nodes.host = c{k}.dst, nn, d{k}
)""")
    tail = """
SELECT host, round(r, 6) AS pagerank FROM r4
ORDER BY pagerank DESC, host LIMIT 20
"""
    return head + "".join(iters) + tail


_LSH_GRID = [(128, 1), (64, 2), (32, 4), (16, 8), (8, 16), (4, 32), (2, 64), (1, 128)]


def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band/row tuning against MEASURED similarities (the S-curve
    analysis of Leskovec, Rajaraman & Ullman, MMDS §3.4, over Broder
    1997 minhash): for every (b, r) split of 128 permutations, the
    candidate probability at similarity s is 1-(1-s^r)^b; this op
    evaluates each split's expected recall on observed near-duplicate
    pairs (true 3-gram Jaccard >= 0.5 over a bounded 100-doc sample)
    and its expected false-positive mass on the sample's non-dup pairs
    — the calibration a dedup pipeline runs BEFORE committing to a
    band layout. Also reports the analytic threshold (1/b)^(1/r).

    Scale shape: the similarity SAMPLE is the bounded part (100 docs →
    4950 exact pairwise Jaccards; the broadcast cross-pair is bounded
    by the literal sample cap, the cosine_topk discipline) — tuning
    needs a measured similarity histogram, not the corpus; the 8-row
    grid is a literal broadcast; everything else is one shingle
    equi-join on the sample."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    tok = docs.select("doc_id", text.tokens(F.col("text")).alias("a")).where(
        F.size("a") >= 3
    )
    sh = tok.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(a) - 2),"
                    " i -> concat_ws(' ', a[i-1], a[i], a[i+1]))"
                )
            )
        ).alias("g"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.select(F.col("doc_id").alias("da"), "g")
        .join(sh.select(F.col("doc_id").alias("db"), "g"), "g")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    pairs = (
        F.broadcast(sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sa")))
        .crossJoin(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("sb"))
            )
        )
        .where(F.col("da") < F.col("db"))
        .join(inter, ["da", "db"], "left")
        .select(
            (
                F.coalesce(F.col("i"), F.lit(0)).cast("double")
                / (F.col("sa") + F.col("sb") - F.coalesce(F.col("i"), F.lit(0)))
            ).alias("s")
        )
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
                    for b, r in _LSH_GRID
                ]
            )
        ).alias("g")
    ).select("g.b", "g.r")
    p_cand = 1.0 - F.pow(1.0 - F.pow(F.col("s"), F.col("r")), F.col("b"))
    return (
        pairs.crossJoin(F.broadcast(grid))
        .groupBy("b", "r")
        .agg(
            F.round(F.avg(F.when(F.col("s") >= 0.5, p_cand)), 6).alias("exp_recall"),
            F.round(F.avg(F.when(F.col("s") < 0.5, p_cand)), 6).alias("exp_fp"),
        )
        .select(
            "b",
            "r",
            F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 6).alias("threshold"),
            "exp_recall",
            "exp_fp",
        )
        .orderBy("r")
    )


def _minhash_band_tuning_sql() -> str:
    grid = ", ".join(f"({b}, {r})" for b, r in _LSH_GRID)
    return rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE doc_id < 100
    AND len(string_split_regex(trim(lower(text)), '\s+')) >= 3
), sh AS (
  SELECT DISTINCT doc_id, g
  FROM (SELECT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        FROM tok, UNNEST(range(1, len(a) - 1)) AS t(i))
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
  FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT CAST(COALESCE(i, 0) AS DOUBLE)
         / (a.sz + b.sz - COALESCE(i, 0)) AS s
  FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id
  LEFT JOIN inter ON inter.da = a.doc_id AND inter.db = b.doc_id
), grid AS (
  SELECT * FROM (VALUES {grid}) AS g(b, r)
)
SELECT b, r,
  round(power(CAST(1.0 AS DOUBLE) / b, CAST(1.0 AS DOUBLE) / r), 6)
    AS threshold,
  round(AVG(CASE WHEN s >= 0.5
        THEN 1.0 - power(1.0 - power(s, r), b) END), 6) AS exp_recall,
  round(AVG(CASE WHEN s < 0.5
        THEN 1.0 - power(1.0 - power(s, r), b) END), 6) AS exp_fp
FROM pairs, grid
GROUP BY b, r
ORDER BY r
"""


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units"): 8 rounds of
    (count adjacent symbol pairs weighted by word frequency) -> (merge
    the argmax pair corpus-wide, greedy left-to-right non-overlapping)
    — the tokenizer-training step a data pipeline runs over its own
    corpus. Ties break lexicographically (count desc, left asc, right
    asc) so the merge table is deterministic. Rows-only for the driver
    (iterative); the gate recomputes the full merge sequence exactly in
    python (tests/test_quality.py).

    Scale shape: training iterates over the COMPACT (word, freq) table
    (|vocab| rows — the standard distributed-BPE state), not the
    corpus; each round is one pair-keyed partial-agg shuffle + a 1-row
    argmax collect (the coverage_select discipline) + a map-only HOF
    re-segmentation. The merge fold's append-to-array accumulator is
    bounded by WORD length (tens of chars), so the O(len^2) concat
    pattern the r12 HOF audit banned for per-KEY histories is constant
    here."""
    n_merges = 8
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(F.split("w", "").alias("sym"), "f")
    )
    # ONE action per round (r16): the argmax job itself materializes the
    # round's persisted segmentation as a side effect, so the former
    # persist-then-count() action per round is gone; the parent frame is
    # unpersisted only after the argmax has filled the child's cache.
    cur = words.persist()
    prev = None
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pair_counts = (
            cur.select(
                "f",
                F.explode(
                    F.zip_with(
                        F.expr("slice(sym, 1, size(sym) - 1)"),
                        F.expr("slice(sym, 2, size(sym) - 1)"),
                        lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("f").alias("c"))
        )
        best = (
            pair_counts.orderBy(F.desc("c"), "l", "r").limit(1).collect()
        )
        if prev is not None:
            prev.unpersist()
            prev = None
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, l, r, c))
        if rank == n_merges:
            break  # last round's re-segmentation is never read
        ll, rl = F.lit(l), F.lit(r)
        merged = F.aggregate(
            "sym",
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == ll)
                & (s == rl),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), s)),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        nxt = cur.select(merged.alias("sym"), "f").persist()
        prev, cur = cur, nxt
    cur.unpersist()
    if prev is not None:
        prev.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )


def wimbd_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIMBD-style corpus audit card (Elazar et al. 2024, "What's In My
    Big Data?"): the one-frame summary a data team publishes with a
    corpus — top-5 bigrams, exact-duplicate document fraction, exact
    p50/p90 of document length, and the top-3 source shares — as
    labeled (metric, key, value) rows so the card is one queryable
    artifact.

    Scale shape: four independent bounded aggregations UNIONed — the
    bigram top-5 is a count shuffle + TakeOrdered; the dup fraction is
    a distinct-digest agg; the exact percentiles use the ccnet_buckets
    histogram rank selection (one scalar count per distinct length, no
    percentile buffer); source shares are a |sources|-row rollup. No
    collect, no unbounded broadcast."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(text.tokens(F.col("text")).alias("a")).where(
        F.size("a") >= 2
    )
    bg = (
        tok.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> concat_ws(' ', a[i-1], a[i]))"
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "g")
        .limit(5)
        .select(
            F.lit("top_bigram").alias("metric"),
            F.col("g").alias("key"),
            F.col("c").cast("double").alias("value"),
        )
    )
    # digest aliased BEFORE the agg so the distinct shuffle's Exchange
    # carries a named 64-hex column, not an expression mentioning text
    dup = docs.select(
        F.sha2(F.trim(F.lower("text")), 256).alias("__digest")
    ).agg(
        (
            1.0
            - F.count_distinct("__digest") / F.count(F.lit(1)).cast("double")
        ).alias("v")
    ).select(
        F.lit("dup_doc_frac").alias("metric"),
        F.lit("").alias("key"),
        F.round("v", 6).alias("value"),
    )
    hist = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("n_chars")
    cum = (
        hist.withColumn("hi", F.sum("cnt").over(w))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
        .crossJoin(F.broadcast(hist.agg(F.sum("cnt").alias("n"))))
    )

    def _pct(p: float, tag: str):
        pos = F.lit(p) * (F.col("n") - 1).cast("double")
        ilo, ihi = F.floor(pos), F.ceil(pos)
        vlo = F.max(
            F.when((F.col("lo") <= ilo) & (ilo < F.col("hi")), F.col("n_chars"))
        )
        vhi = F.max(
            F.when((F.col("lo") <= ihi) & (ihi < F.col("hi")), F.col("n_chars"))
        )
        frac = F.max(pos - F.floor(pos).cast("double"))
        return (vlo + frac * (vhi - vlo)).alias(tag)

    pct = cum.agg(_pct(0.5, "p50"), _pct(0.9, "p90"))
    pcts = pct.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("p50_chars").alias("metric"),
                    F.lit("").alias("key"),
                    F.round("p50", 6).alias("value"),
                ),
                F.struct(
                    F.lit("p90_chars").alias("metric"),
                    F.lit("").alias("key"),
                    F.round("p90", 6).alias("value"),
                ),
            )
        ).alias("s")
    ).select("s.metric", "s.key", "s.value")
    shares = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("n"))))
        .orderBy(F.desc("c"), "source")
        .limit(3)
        .select(
            F.lit("source_share").alias("metric"),
            F.col("source").alias("key"),
            F.round(F.col("c") / F.col("n").cast("double"), 6).alias("value"),
        )
    )
    return (
        bg.unionByName(dup)
        .unionByName(pcts)
        .unionByName(shares)
        .orderBy("metric", "key")
    )


WIMBD_SQL = r"""
WITH tok AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), bg AS (
  SELECT 'top_bigram' AS metric, g AS key, CAST(c AS DOUBLE) AS value
  FROM (
    SELECT a[i] || ' ' || a[i+1] AS g, count(*) AS c
    FROM tok, UNNEST(range(1, len(a))) AS t(i)
    GROUP BY 1 ORDER BY c DESC, g LIMIT 5
  )
), dup AS (
  SELECT 'dup_doc_frac' AS metric, '' AS key,
    round(1.0 - count(DISTINCT sha256(trim(lower(text))))
          / CAST(count(*) AS DOUBLE), 6) AS value
  FROM documents
), hist AS (
  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY n_chars
), cum AS (
  SELECT n_chars, cnt,
    SUM(cnt) OVER (ORDER BY n_chars) AS hi,
    SUM(cnt) OVER (ORDER BY n_chars) - cnt AS lo,
    (SELECT SUM(cnt) FROM hist) AS n
  FROM hist
), pctsel AS (
  SELECT
    MAX(CASE WHEN lo <= floor(0.5 * (n - 1)) AND floor(0.5 * (n - 1)) < hi
        THEN n_chars END) AS vlo50,
    MAX(CASE WHEN lo <= ceil(0.5 * (n - 1)) AND ceil(0.5 * (n - 1)) < hi
        THEN n_chars END) AS vhi50,
    MAX(0.5 * (n - 1) - floor(0.5 * (n - 1))) AS f50,
    MAX(CASE WHEN lo <= floor(0.9 * (n - 1)) AND floor(0.9 * (n - 1)) < hi
        THEN n_chars END) AS vlo90,
    MAX(CASE WHEN lo <= ceil(0.9 * (n - 1)) AND ceil(0.9 * (n - 1)) < hi
        THEN n_chars END) AS vhi90,
    MAX(0.9 * (n - 1) - floor(0.9 * (n - 1))) AS f90
  FROM cum
), pcts AS (
  SELECT 'p50_chars' AS metric, '' AS key,
         round(vlo50 + f50 * (vhi50 - vlo50), 6) AS value FROM pctsel
  UNION ALL
  SELECT 'p90_chars', '', round(vlo90 + f90 * (vhi90 - vlo90), 6) FROM pctsel
), shares AS (
  SELECT 'source_share' AS metric, source AS key,
         round(c / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6) AS value
  FROM (SELECT source, count(*) AS c FROM documents GROUP BY source
        ORDER BY c DESC, source LIMIT 3)
)
SELECT * FROM bg UNION ALL SELECT * FROM dup
UNION ALL SELECT * FROM pcts UNION ALL SELECT * FROM shares
ORDER BY metric, key
"""


def per_source_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum uniform reservoir sample, k=5 docs per source
    (Vitter 1985 reservoir semantics via the order-statistics
    formulation: keep each stratum's k smallest deterministic md5
    uniforms — the per-key twin of `weighted_sample_aes`, and the way
    a 100 TB pipeline pulls a fixed-size QA sample from EVERY shard in
    one pass, not just a global sample that may miss small sources).

    Scale shape: key assignment is MAP-ONLY; per-source top-k is the
    two-phase exact rank (each partition surrenders <= k rows per
    source present in it, then the per-source reducer sees <= k*P
    rows). The md5 uniform makes the draw reproducible and the oracle
    identical."""
    K = 5
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 1.0) / (
        float(16**13) + 1.0
    )
    keyed = docs.select("doc_id", "source", F.round(u, 8).alias("u"))
    order = (F.asc("u"), F.asc("doc_id"))
    w_part = Window.partitionBy("source", F.spark_partition_id()).orderBy(*order)
    w_all = Window.partitionBy("source").orderBy(*order)
    return (
        keyed.withColumn("__pr", F.row_number().over(w_part))
        .where(F.col("__pr") <= K)
        .withColumn("rk", F.row_number().over(w_all))
        .where(F.col("rk") <= K)
        .select("source", "rk", "doc_id", "u")
        .orderBy("source", "rk")
    )


PER_SOURCE_RESERVOIR_SQL = r"""
WITH keyed AS (
  SELECT doc_id, source,
    round((('0x' || substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
           + 1.0) / (power(16, 13) + 1.0), 8) AS u
  FROM documents
)
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rk,
       doc_id, u
FROM keyed QUALIFY rk <= 5
ORDER BY source, rk
"""


def unicode_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization cleanup (UAX #15 NFC composition +
    zero-width stripping + NBSP/whitespace collapse) — the
    canonicalization pass multilingual pipelines run before
    hashing/dedup so 'e'+COMBINING ACUTE and the precomposed 'e-acute'
    hash identically. Normalization hazards (combining sequence, ZERO
    WIDTH SPACE, NBSP) are INJECTED deterministically around each
    doc's text (the url_canonicalize precedent — the corpus is ASCII),
    so the oracle exercises the real composition path; the op reports
    pre/post code-point lengths plus the cleaned text's sha for
    joinability.

    Scale shape: NFC has no JVM expression, so this is the DOCUMENTED
    Arrow slow path — ONE batched pandas_udf over the text column
    (zero shuffles); the strip/collapse run as JVM regex expressions
    BEFORE Python so the Arrow transfer carries already-reduced
    strings. The DuckDB oracle replays it with nfc_normalize (both
    sides implement UAX #15)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type annotations: `from __future__ import annotations` turns
    # them into strings pandas_udf can't resolve with pd imported
    # function-locally; the return type is declared in the decorator
    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    docs = _t(spark, sf_dir, "documents")
    # hazards: decomposed e + U+0301, U+200B zero-width space, U+00A0 NBSP
    hazard = F.concat(
        F.lit("e\u0301 "),
        F.col("text"),
        F.lit(" \u200bx\u00a0y"),
    )
    stripped = F.regexp_replace(
        hazard, "[\u200b\u200c\u200d\ufeff]", ""
    )
    collapsed = F.trim(F.regexp_replace(stripped, "[\\s\u00a0]+", " "))
    out = docs.select(
        "doc_id",
        F.length(hazard).alias("n_raw"),
        _nfc(collapsed).alias("clean"),
    )
    return out.select(
        "doc_id",
        "n_raw",
        F.length("clean").alias("n_clean"),
        F.substring("clean", 1, 8).alias("prefix"),
        F.sha2("clean", 256).alias("clean_sha"),
    )


UNICODE_NORM_SQL = r"""
WITH hz AS (
  SELECT doc_id,
    'e' || chr(769) || ' ' || text || ' ' || chr(8203) || 'x'
        || chr(160) || 'y' AS raw
  FROM documents
), cleaned AS (
  SELECT doc_id, length(raw) AS n_raw,
    nfc_normalize(trim(regexp_replace(
      regexp_replace(raw, '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
      '[\s\x{00A0}]+', ' ', 'g'))) AS clean
  FROM hz
)
SELECT doc_id, n_raw, length(clean) AS n_clean,
       substring(clean, 1, 8) AS prefix,
       sha256(clean) AS clean_sha
FROM cleaned
"""


def host_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the host graph by synchronous label
    propagation (Raghavan, Albert & Kumara 2007, "Near linear time
    algorithm to detect community structures in large-scale networks"):
    3 rounds of every node adopting its neighbors' most frequent label
    (ties -> lexicographically smallest, making the sweep
    deterministic) over the same synthesized undirected host graph as
    `host_pagerank` — the link-farm / mirror-cluster screen crawl
    pipelines run next to the PageRank quality prior. Emits each
    host's final community and the community size.

    Scale shape: the adjacency (both edge directions, distinct) is
    |edges|-bounded and persists across rounds; each round is ONE
    equi-join shuffle (adjacency x labels on the neighbor) + a
    (v, label) partial-agg + a per-node argmax as MIN(struct(-c, lbl))
    (r16: the former row_number window re-shuffled by v and sorted —
    the struct-min folds the argmax into one more partial-aggregated
    agg, guide §2.4; same deterministic winner: largest count, ties to
    the smallest label). No collect; rounds are a fixed 3."""
    docs = _t(spark, sf_dir, "documents")
    edges = _host_edges(docs)
    adj = scoped_persist(
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .union(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
        .distinct()
    )
    labels = adj.select("v").distinct().withColumn("lbl", F.col("v"))
    for _ in range(3):
        cnt = (
            adj.join(
                labels.select(F.col("v").alias("n"), "lbl"), "n"
            )
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("v")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "lbl")).alias("__b"))
            .select("v", F.col("__b.lbl").alias("lbl"))
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("v").alias("host"),
            F.col("lbl").alias("community"),
            "community_size",
        )
        .orderBy("host")
    )


def _host_lpa_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    head = f"""
WITH edges AS (
  SELECT DISTINCT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
), adj AS (
  SELECT src AS v, dst AS n FROM edges
  UNION SELECT dst, src FROM edges
), l0 AS (SELECT DISTINCT v, v AS lbl FROM adj)"""
    iters = []
    for k in range(1, 4):
        p = k - 1
        iters.append(f""",
c{k} AS (
  SELECT adj.v, l{p}.lbl, count(*) AS c
  FROM adj JOIN l{p} ON l{p}.v = adj.n
  GROUP BY adj.v, l{p}.lbl
), l{k} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
    FROM c{k}) WHERE rn = 1
)""")
    tail = """
SELECT l3.v AS host, l3.lbl AS community, s.community_size
FROM l3 JOIN (SELECT lbl, count(*) AS community_size FROM l3 GROUP BY lbl) s
  ON l3.lbl = s.lbl
ORDER BY host
"""
    return head + "".join(iters) + tail


def chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection (Yang & Pedersen 1997, "A
    Comparative Study on Feature Selection in Text Categorization"):
    rank tokens by their chi^2 association with the curated class
    (source in src0/src1 — the same supervision naive_bayes_quality
    trains on), using DOCUMENT-level contingency tables (a, b, c, d =
    docs with/without the token in each class). Top-20 features — the
    vocabulary a lightweight quality classifier would actually use.

    Scale shape: one (token, doc-class) distinct + count shuffle
    builds the contingency counts; class totals fold in as a one-row
    broadcast; chi^2 is map-side arithmetic on exact longs and the
    result is a TakeOrdered top-20. NO broadcast of the token table
    (Heaps' law — the BCAST_GROWING rule)."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            (F.col("source").isin("src0", "src1")).alias("pos"),
            F.explode(F.array_distinct(text.tokens(F.col("text")))).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    cont = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("b"),
    )
    totals = docs.agg(
        F.sum(F.when(F.col("source").isin("src0", "src1"), 1).otherwise(0)).alias(
            "n_pos"
        ),
        F.sum(F.when(~F.col("source").isin("src0", "src1"), 1).otherwise(0)).alias(
            "n_neg"
        ),
    )
    j = cont.crossJoin(F.broadcast(totals)).select(
        "tok",
        "a",
        "b",
        (F.col("n_pos") - F.col("a")).alias("c"),
        (F.col("n_neg") - F.col("b")).alias("d"),
        (F.col("n_pos") + F.col("n_neg")).alias("n"),
    )
    num = (
        F.col("n").cast("double")
        * F.pow(F.col("a") * F.col("d") - F.col("b") * F.col("c"), 2)
    )
    den = (
        (F.col("a") + F.col("b"))
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    ).cast("double")
    return (
        j.where(den > 0)
        .select(
            "tok",
            F.col("a").alias("pos_docs"),
            F.col("b").alias("neg_docs"),
            F.round(num / den, 4).alias("chi2"),
        )
        .orderBy(F.desc("chi2"), "tok")
        .limit(20)
    )


CHI2_SQL = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, source IN ('src0', 'src1') AS pos, tok
  FROM (SELECT doc_id, source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok != ''
), cont AS (
  SELECT tok,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM toks GROUP BY tok
), totals AS (
  SELECT SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN source NOT IN ('src0','src1') THEN 1 ELSE 0 END) AS n_neg
  FROM documents
), j AS (
  SELECT tok, a, b, n_pos - a AS c, n_neg - b AS d, n_pos + n_neg AS n
  FROM cont, totals
)
SELECT tok, a AS pos_docs, b AS neg_docs,
  round(CAST(n AS DOUBLE) * power(a * d - b * c, 2)
        / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE), 4) AS chi2
FROM j
WHERE (a + b) * (c + d) * (a + c) * (b + d) > 0
ORDER BY chi2 DESC, tok
LIMIT 20
"""


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor (the standard
    model-monitoring screen; PSI = sum (p_i - q_i) ln(p_i / q_i) over
    fixed bins): compares each event_type's value distribution in the
    first half of the time range (reference window) against the second
    half (current window), over 10 fixed-width bins spanning the
    GLOBAL min/max — the drift gate a feature pipeline runs before
    retraining. PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted.
    Laplace-smoothed bin shares so empty bins stay finite.

    Scale shape: one (type, bin) partial-agg shuffle; the global
    min/max and the midpoint timestamp fold in as one-row broadcasts;
    the PSI sum is a |types x bins|-bounded rollup. Map-only binning."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    # hi == lo (all values equal) would make the bin width 0: Spark's
    # double division then yields NULL (least() silently picks 9) while
    # DuckDB yields inf/NaN — guard the degenerate distribution to bin 0
    # deterministically on BOTH engines (same CASE in PSI_SQL).
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (
            F.col("ts").cast("long") * 2 <= (F.col("t0") + F.col("t1"))
        ).alias("ref"),
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 10.0)
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("ref"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = F.col("n_ref") + 1.0
    q = F.col("n_cur") + 1.0
    pp = p / (F.col("t_ref") + 10.0)
    qq = q / (F.col("t_cur") + 10.0)
    return (
        cnt.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("t_ref").alias("n_ref"),
            F.max("t_cur").alias("n_cur"),
            F.round(F.sum((pp - qq) * F.log(pp / qq)), 6).alias("psi"),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            "psi",
            F.when(F.col("psi") < 0.1, "stable")
            .when(F.col("psi") < 0.25, "moderate")
            .otherwise("shifted")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


PSI_SQL = r"""
WITH bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi,
         epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1
  FROM events
), binned AS (
  SELECT event_type,
    epoch(ts) * 2 <= (t0 + t1) AS ref,
    CASE WHEN hi > lo
         THEN LEAST(9, CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS INT))
         ELSE 0 END AS bin
  FROM events, bounds
), cnt AS (
  SELECT event_type, bin,
         SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS n_cur
  FROM binned GROUP BY 1, 2
), tot AS (
  SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
  FROM cnt GROUP BY 1
), terms AS (
  SELECT cnt.event_type, t_ref, t_cur,
    ((n_ref + 1.0) / (t_ref + 10.0) - (n_cur + 1.0) / (t_cur + 10.0))
      * ln(((n_ref + 1.0) / (t_ref + 10.0))
           / ((n_cur + 1.0) / (t_cur + 10.0))) AS term
  FROM cnt JOIN tot USING (event_type)
)
SELECT event_type,
  CAST(MAX(t_ref) AS BIGINT) AS n_ref,
  CAST(MAX(t_cur) AS BIGINT) AS n_cur,
  round(SUM(term), 6) AS psi,
  CASE WHEN round(SUM(term), 6) < 0.1 THEN 'stable'
       WHEN round(SUM(term), 6) < 0.25 THEN 'moderate'
       ELSE 'shifted' END AS verdict
FROM terms GROUP BY event_type ORDER BY event_type
"""


def classifier_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation (precision / recall / F1 / accuracy) of
    the self-trained `naive_bayes_quality` keep decision against its
    own supervision (source in src0/src1) — the eval step every
    quality-classifier pipeline runs before trusting the filter on
    held-out data. Reported per predicted class plus the confusion
    counts, so the filter's failure mode (over-keep vs over-drop) is
    visible, not just a single score.

    Scale shape: rides the naive_bayes plan (token-count shuffle +
    doc-keyed rollup), then ONE 4-cell confusion aggregation; the
    metric arithmetic is on exact longs in a one-row frame."""
    scored = naive_bayes_quality(spark, sf_dir).select("doc_id", "keep")
    truth = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").isin("src0", "src1").alias("pos")
    )
    cm = scored.join(truth, "doc_id").agg(
        F.sum(F.when(F.col("keep") & F.col("pos"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("keep") & ~F.col("pos"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("keep") & F.col("pos"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("keep") & ~F.col("pos"), 1).otherwise(0)).alias("tn"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)).cast(
        "double"
    )
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)).cast(
        "double"
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6).alias(
            "f1"
        ),
        F.round(
            (F.col("tp") + F.col("tn"))
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")).cast(
                "double"
            ),
            6,
        ).alias("accuracy"),
    )


CLASSIFIER_PRF_SQL = f"""
WITH cm AS (
  SELECT
    CAST(SUM(CASE WHEN keep AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN keep AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN NOT keep AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN NOT keep AND NOT pos THEN 1 ELSE 0 END) AS BIGINT)
      AS tn
  FROM ({NAIVE_BAYES_SQL}) nb
  JOIN (SELECT doc_id, source IN ('src0', 'src1') AS pos FROM documents) t
    USING (doc_id)
)
SELECT tp, fp, fn, tn,
  round(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE), 6) AS precision,
  round(tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 6) AS recall,
  round(2 * (tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE))
          * (tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE))
        / GREATEST(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE)
                   + tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 1e-12), 6) AS f1,
  round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy
FROM cm
"""


# Ideal DCG@10 for graded relevance 10..1 — python-precomputed once so
# the Spark literal and the SQL literal are the SAME double.
_IDCG10 = sum((11 - i) / _math.log2(i + 1) for i in range(1, 11))


def rank_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval evaluation (nDCG@10 / MRR / recall@10 —
    Järvelin & Kekäläinen 2002 for nDCG) of the TEXT ranker against
    the VECTOR ranker for the 5 standing query docs: the exact-cosine
    top-10 provides graded relevance (rel = 11 - cosine_rank), and the
    BM25 text ranking is scored against it — the modality-agreement
    eval a hybrid retrieval stack (see `hybrid_search`) runs before
    tuning its fusion weights. Both rankers are deterministic and
    SQL-expressible, so the oracle replays the whole evaluation.

    Scale shape: rides the shared `_bm25_query_ranks` two-phase top-K
    and the broadcast-query brute-force cosine (both already 100
    TB-shaped); the metric join is |Q|x10 vs |Q|x10. IDCG is a
    python-precomputed literal shared with the SQL."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    emb = _t(spark, sf_dir, spread=True, name="embeddings")
    vr = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 5), k=10
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        (11 - F.col("rank")).alias("rel"),
    )
    tr = _bm25_query_ranks(docs, 10)
    j = tr.join(vr, ["query_id", "doc_id"], "left").select(
        "query_id",
        "rank_t",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.col("rel") / F.log2(F.col("rank_t") + 1.0))
                / F.lit(_IDCG10),
                6,
            ).alias("ndcg10"),
            F.round(
                F.coalesce(
                    1.0 / F.min(F.when(F.col("rel") > 0, F.col("rank_t"))),
                    F.lit(0.0),
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)) / 10.0, 6
            ).alias("recall10"),
        )
        .orderBy("query_id")
    )


RANK_EVAL_SQL = rf"""
WITH qdocs AS (
  SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 5
), vr AS (
  SELECT query_id, neighbor_id AS doc_id, 11 - rank AS rel FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(
                        CAST(q.embedding AS DOUBLE[]),
                        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id
           ) AS rank
    FROM embeddings q JOIN embeddings c
      ON q.vec_id < 5 AND c.vec_id <> q.vec_id
  ) WHERE rank <= 10
), qterms AS (
  SELECT DISTINCT query_id, tok AS term
  FROM (SELECT query_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM qdocs)
), tokall AS (
  SELECT doc_id, len(string_split_regex(trim(lower(text)), '\s+')) AS dl,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
), toks AS (
  SELECT * FROM tokall WHERE term IN (SELECT term FROM qterms)
), tf AS (
  SELECT doc_id, term, count(*) AS tf, MIN(dl) AS dl
  FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         AVG(len(string_split_regex(trim(lower(text)), '\s+'))) AS avgdl
  FROM documents
), scores AS (
  SELECT q.query_id, tf.doc_id,
    round(CAST(SUM(
      ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf * ({_BM25_K1} + 1)
      / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
    ) AS DOUBLE), 4) AS s
  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term), stats
  WHERE tf.doc_id <> q.query_id
  GROUP BY q.query_id, tf.doc_id
), tr AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s DESC, doc_id) AS rank_t
  FROM scores QUALIFY rank_t <= 10
), j AS (
  SELECT tr.query_id, tr.rank_t, COALESCE(vr.rel, 0) AS rel
  FROM tr LEFT JOIN vr ON tr.query_id = vr.query_id AND tr.doc_id = vr.doc_id
)
SELECT query_id,
  round(SUM(rel / log2(rank_t + 1.0)) / {_IDCG10!r}, 6) AS ndcg10,
  round(COALESCE(1.0 / MIN(CASE WHEN rel > 0 THEN rank_t END), 0.0), 6) AS mrr,
  round(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) / 10.0, 6) AS recall10
FROM j GROUP BY query_id ORDER BY query_id
"""


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-bootstrap confidence interval (Rubin 1981; the
    exponential-weight formulation) for a corpus metric — the 95% CI
    on mean lexical diversity a curation dashboard shows next to the
    point estimate. B=200 replicates, each reweighting every doc by
    w = -ln(u) with u an md5-derived uniform keyed on (doc, replicate)
    — fully deterministic, so the DuckDB oracle reproduces the exact
    same 200 replicate means and the same interval.

    Scale shape: the doc metric computes once (map-only); the B
    replicates EXPLODE a bounded sequence per doc (fan-out 200, tuned
    like mrl_truncation_eval's 4x), partial-agg by replicate id to B
    rows, and the percentile selection sorts a 200-element array.
    Replicate means round to 8 dp before ranking so cross-engine
    sum-order ulps cannot reorder the cut."""
    B = 200
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = text.tokens(F.col("text"))
    m = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))).alias(
            "x"
        ),
    )
    rep = m.select(
        "doc_id", "x", F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b")
    )
    h = F.md5(
        F.concat_ws(":", F.lit("boot"), F.col("doc_id").cast("string"), F.col("b").cast("string"))
    )
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 1.0) / (
        float(16**13) + 1.0
    )
    w = -F.log(u)
    means = (
        rep.select("b", w.alias("w"), (w * F.col("x")).alias("wx"))
        .groupBy("b")
        .agg(F.round(F.sum("wx") / F.sum("w"), 8).alias("mb"))
    )
    arr = means.agg(F.sort_array(F.collect_list("mb")).alias("xs"))

    def _q(p: float):
        pos = F.lit(p) * (F.size("xs") - 1).cast("double")
        lo = F.element_at("xs", F.floor(pos).cast("int") + 1)
        hi = F.element_at("xs", F.ceil(pos).cast("int") + 1)
        return lo + (pos - F.floor(pos)) * (hi - lo)

    point = m.agg(F.avg("x").alias("mean"))
    return arr.crossJoin(F.broadcast(point)).select(
        F.round("mean", 6).alias("mean"),
        F.round(_q(0.025), 6).alias("ci_lo"),
        F.round(_q(0.975), 6).alias("ci_hi"),
        F.lit(B).alias("n_replicates"),
    )


BOOTSTRAP_SQL = r"""
WITH m AS (
  SELECT doc_id,
    len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) * 1.0
      / GREATEST(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS x
  FROM documents
), rep AS (
  SELECT doc_id, x, b FROM m, UNNEST(range(0, 200)) AS t(b)
), wtd AS (
  SELECT b,
    -ln((('0x' || substr(md5('boot:' || CAST(doc_id AS VARCHAR) || ':'
                             || CAST(b AS VARCHAR)), 1, 13))::BIGINT + 1.0)
        / (power(16, 13) + 1.0)) AS w,
    x
  FROM rep
), means AS (
  SELECT b, round(SUM(w * x) / SUM(w), 8) AS mb FROM wtd GROUP BY b
), arr AS (
  SELECT list_sort(list(mb)) AS xs FROM means
), pt AS (SELECT AVG(x) AS mean FROM m)
SELECT round(mean, 6) AS mean,
  round(xs[CAST(floor(0.025 * (len(xs) - 1)) AS INT) + 1]
        + (0.025 * (len(xs) - 1) - floor(0.025 * (len(xs) - 1)))
          * (xs[CAST(ceil(0.025 * (len(xs) - 1)) AS INT) + 1]
             - xs[CAST(floor(0.025 * (len(xs) - 1)) AS INT) + 1]), 6) AS ci_lo,
  round(xs[CAST(floor(0.975 * (len(xs) - 1)) AS INT) + 1]
        + (0.975 * (len(xs) - 1) - floor(0.975 * (len(xs) - 1)))
          * (xs[CAST(ceil(0.975 * (len(xs) - 1)) AS INT) + 1]
             - xs[CAST(floor(0.975 * (len(xs) - 1)) AS INT) + 1]), 6) AS ci_hi,
  200 AS n_replicates
FROM arr, pt
"""


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein
    1998): for each of the 5 standing query vectors, rerank the exact
    cosine top-20 into 10 picks maximizing lambda*sim(q,d) -
    (1-lambda)*max_{s in S} sim(d,s), lambda=0.7 — the
    diversity-aware rerank RAG stacks apply on top of raw ANN lists
    so near-duplicate passages don't crowd the context window.
    Rows-only for the driver (iterative greedy); the gate recomputes
    the exact pick sequence in python (tests/test_quality.py).

    Scale shape: candidate generation is the two-phase exact top-K;
    the pairwise candidate sims are |Q| x 20 x 20 (bounded by the
    rerank window, never the corpus); the greedy itself runs in ONE
    Arrow batch per query via applyInPandas — 20-candidate matrices,
    numpy argmax per round."""
    lam, K, TOP = 0.7, 20, 10
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    cand = similarity.brute_force_topk(emb, q, k=K).select(
        "query_id", F.col("neighbor_id").alias("cand"), F.col("score").alias("simq")
    )
    ce = cand.join(
        emb.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("__cv")),
        "cand",
    )
    a = ce.select(
        "query_id",
        F.col("cand").alias("a"),
        F.col("simq").alias("simq_a"),
        F.col("__cv").alias("__va"),
    )
    b = ce.select(
        "query_id", F.col("cand").alias("b"), F.col("__cv").alias("__vb")
    )
    from wp_motor_spark.operators.similarity import cosine as _cos

    pairs = a.join(b, "query_id").select(
        "query_id",
        "a",
        "simq_a",
        "b",
        _cos(F.col("__va"), F.col("__vb")).alias("s_ab"),
    )

    import numpy as np
    import pandas as pd

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        cands = sorted(pdf["a"].unique())
        idx = {c: i for i, c in enumerate(cands)}
        n = len(cands)
        simq = np.zeros(n)
        s = np.zeros((n, n))
        for row in pdf.itertuples(index=False):
            s[idx[row.a], idx[row.b]] = row.s_ab
            simq[idx[row.a]] = row.simq_a
        picked: list[int] = []
        avail = np.ones(n, dtype=bool)
        rows = []
        for rank in range(1, min(TOP, n) + 1):
            if picked:
                div = s[:, picked].max(axis=1)
            else:
                div = np.zeros(n)
            mmr = lam * simq - (1 - lam) * div
            mmr_masked = np.where(avail, mmr, -np.inf)
            best = int(np.lexsort((np.array(cands), -mmr_masked))[0])
            rows.append((qid, rank, cands[best], round(float(mmr_masked[best]), 6)))
            picked.append(best)
            avail[best] = False
        return pd.DataFrame(
            rows, columns=["query_id", "rank", "vec_id", "mmr_score"]
        )

    return (
        pairs.groupBy("query_id")
        .applyInPandas(
            _greedy, "query_id long, rank int, vec_id long, mmr_score double"
        )
        .orderBy("query_id", "rank")
    )



# --------------------------------------------------------------------------
# NEW r14 operators (registry tail — lead the r15 window)
# TPC-H completion: the 7 query shapes the registry still lacked (Q2, Q9,
# Q11, Q12, Q16, Q20, Q21). The testdata has no partsupp table and no
# l_commitdate / l_receiptdate / l_shipmode columns, so each is the
# established "shape" adaptation (the Q13/Q14/Q17 precedent): the join
# topology, the decorrelation pattern, and the aggregate structure of the
# spec query, re-keyed onto columns the corpus has. The (part, supplier)
# supply relation is derived from lineitem where partsupp is required.


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


Q2_SQL = """
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
"""


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


Q9_SQL = """
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
"""


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


Q11_SQL = """
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
"""


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


Q12_SQL = """
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
"""


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


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


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


Q20_SQL = """
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
"""


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


Q21_SQL = """
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
"""



def auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a document quality score against curated-source
    labels via the Mann-Whitney rank-sum identity (Hanley & McNeil
    1982): AUC = (sum of positive ranks - n_pos(n_pos+1)/2) /
    (n_pos * n_neg), with midrank tie correction — the eval a quality
    classifier gets before its threshold gates a corpus. Score is the
    bucketed length signal floor(n_chars/50) (deliberately coarse so
    tie handling is exercised); positives are the curated sources
    src0-src3 (the naive_bayes_quality supervision).

    Scale shape: NO per-row global rank — ranks fold per SCORE GROUP:
    one (score) agg shuffle, a cumulative window over the bounded
    |distinct scores| frame, and a scalar rollup. Midranks are exact
    binary halves (x.0/x.5), so double sums are exact — bit-identical
    across engines and partition orders."""
    docs = _t(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    per = (
        docs.select(
            F.floor(F.col("n_chars") / 50).alias("score"),
            pos.cast("int").alias("p"),
        )
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("npos"))
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.withColumn(
        "avg_rank",
        F.coalesce(F.sum("n").over(w), F.lit(0)) + (F.col("n") + 1) / 2.0,
    )
    agg = ranked.agg(
        F.sum("npos").alias("n_pos"),
        F.sum(F.col("n") - F.col("npos")).alias("n_neg"),
        F.sum(F.col("npos") * F.col("avg_rank")).alias("__spr"),
    )
    auc = (
        F.col("__spr") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(auc * 2 - 1, 6).alias("gini"),
    )


AUC_ROC_SQL = """
WITH g AS (
  SELECT CAST(floor(n_chars / 50) AS BIGINT) AS score,
         COUNT(*) AS n,
         SUM(CASE WHEN source IN ('src0','src1','src2','src3')
                  THEN 1 ELSE 0 END) AS npos
  FROM documents GROUP BY 1
), r AS (
  SELECT npos, n,
         COALESCE(SUM(n) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (n + 1) / 2.0 AS avg_rank
  FROM g
), a AS (
  SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
         CAST(SUM(n - npos) AS BIGINT) AS n_neg,
         SUM(npos * avg_rank) AS spr
  FROM r
)
SELECT n_pos, n_neg,
  round((spr - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc,
  round(((spr - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)) * 2 - 1, 6)
    AS gini
FROM a
"""


def ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error screen (Naeini et al. 2015; Guo et
    al. 2017 eq. 3): a deterministic rational-sigmoid confidence
    tok/(tok+50) (NO libm exp — a single division both engines compute
    bit-identically, so bin assignment can never drift cross-engine)
    against the curated-source label, folded into 10 equal-width
    confidence bins: per-bin count, mean confidence, empirical
    accuracy, |gap|, and the bin's weighted ECE contribution, plus the
    total ECE repeated per row (the headline number a model-monitoring
    dashboard alerts on).

    Scale shape: one map-only score pass, ONE (bin) agg shuffle with
    map-side partials, windows only over the bounded 10-row frame."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("double")
    conf = tok / (tok + F.lit(50.0))
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    per = (
        docs.select(
            F.least(F.lit(9), F.floor(conf * 10).cast("int")).alias("bin"),
            conf.alias("conf"),
            pos.cast("int").alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("conf").alias("avg_conf"),
            F.avg("p").alias("acc"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = per.withColumn("__N", F.sum("n").over(wall)).withColumn(
        "__contrib",
        F.col("n") / F.col("__N") * F.abs(F.col("acc") - F.col("avg_conf")),
    )
    return out.select(
        "bin",
        "n",
        F.round("avg_conf", 6).alias("avg_conf"),
        F.round("acc", 6).alias("accuracy"),
        F.round("__contrib", 6).alias("contribution"),
        F.round(F.sum("__contrib").over(wall), 6).alias("ece"),
    ).orderBy("bin")


ECE_SQL = r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                        AS DOUBLE) END AS tok,
         source IN ('src0','src1','src2','src3') AS pos
  FROM documents
), s AS (
  SELECT LEAST(9, CAST(floor(tok / (tok + 50.0) * 10) AS INT)) AS bin,
         tok / (tok + 50.0) AS conf,
         CASE WHEN pos THEN 1 ELSE 0 END AS p
  FROM t
), per AS (
  SELECT bin, COUNT(*) AS n, AVG(conf) AS avg_conf, AVG(p) AS acc
  FROM s GROUP BY 1
), tot AS (
  SELECT bin, n, avg_conf, acc,
         n * 1.0 / (SUM(n) OVER ()) * abs(acc - avg_conf) AS contrib
  FROM per
)
SELECT bin, n, round(avg_conf, 6) AS avg_conf, round(acc, 6) AS accuracy,
       round(contrib, 6) AS contribution,
       round(SUM(contrib) OVER (), 6) AS ece
FROM tot ORDER BY bin
"""


def cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen 1960 kappa) between two
    deterministic document-quality annotators — the agreement audit a
    labeling pipeline runs before trusting weak labels: rater A keeps
    docs with >= 50 whitespace tokens, rater B keeps docs with >= 280
    chars (both near the corpus median, so the 2x2 table is genuinely
    populated). kappa = (p_o - p_e) / (1 - p_e) from the confusion
    marginals, reported with the raw cell counts so the disagreement
    direction is visible; the degenerate p_e = 1 case (both raters
    constant) is defined to kappa = 0 on both engines.

    Scale shape: map-only predicates + ONE scalar rollup (map-side
    partials, 1 row out). Integer counts -> deterministic doubles."""
    docs = _t(spark, sf_dir, "documents")
    a = (text.token_count_ws(F.col("text")) >= 50).cast("int")
    b = (F.col("n_chars") >= 280).cast("int")
    agg = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (F.col("n") * F.col("n"))
    return agg.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("p_o"),
        F.round(pe, 6).alias("p_e"),
        F.when(pe < 1.0, F.round((po - pe) / (1 - pe), 6))
        .otherwise(F.lit(0.0))
        .alias("kappa"),
    )


COHEN_KAPPA_SQL = r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END >= 50
           AS a,
         n_chars >= 280 AS b
  FROM documents
), c AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
           AS n00
  FROM t
)
SELECT n, n11, n10, n01, n00,
  round((n11 + n00) * 1.0 / n, 6) AS p_o,
  round(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
        * 1.0 / (n * n), 6) AS p_e,
  CASE WHEN ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
            * 1.0 / (n * n) < 1
       THEN round(((n11 + n00) * 1.0 / n
              - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                * 1.0 / (n * n))
             / (1 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                    * 1.0 / (n * n)), 6)
       ELSE 0.0 END AS kappa
FROM c
"""


def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Spearman rank correlation (Spearman 1904, the
    tie-corrected Pearson-on-midranks form) between two quality
    signals, char length and whitespace token count — the redundancy
    screen a curation team runs before stacking correlated signals
    into an ensemble filter.

    Scale shape: NO per-row sort — midranks fold per (lang, value)
    GROUP (the auc_roc discipline): two bounded-domain aggs (char
    lengths and token counts are bounded value domains), cumulative
    windows over those bounded frames, broadcast joins back to rows,
    then one per-lang Pearson rollup. Midranks are exact halves and
    the moment sums run in DECIMAL, so both engines agree bitwise at
    any partition order; the final rho is one double expression."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.col("n_chars").alias("x"),
        text.token_count_ws(F.col("text")).alias("y"),
    )

    def midranks(df, col):
        per = df.groupBy("lang", col).agg(F.count(F.lit(1)).alias("n"))
        w = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return per.select(
            "lang",
            col,
            (
                F.coalesce(F.sum("n").over(w), F.lit(0))
                + (F.col("n") + 1) / 2.0
            ).alias(f"r_{col}"),
        )

    rx = midranks(base, "x")
    ry = midranks(base, "y")
    joined = base.join(F.broadcast(rx), ["lang", "x"]).join(
        F.broadcast(ry), ["lang", "y"]
    )
    dx = F.col("r_x").cast("decimal(18,1)")
    dy = F.col("r_y").cast("decimal(18,1)")
    agg = joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum((dx * dy).cast("decimal(38,2)")).alias("sxy"),
        F.sum((dx * dx).cast("decimal(38,2)")).alias("sxx"),
        F.sum((dy * dy).cast("decimal(38,2)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return agg.select(
        "lang", "n", F.round(num / den, 6).alias("rho")
    ).orderBy("lang")


SPEARMAN_SQL = r"""
WITH base AS (
  SELECT lang, n_chars AS x,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS y
  FROM documents
), gx AS (
  SELECT lang, x, COUNT(*) AS n FROM base GROUP BY 1, 2
), rx AS (
  SELECT lang, x,
         COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (n + 1) / 2.0 AS r_x
  FROM gx
), gy AS (
  SELECT lang, y, COUNT(*) AS n FROM base GROUP BY 1, 2
), ry AS (
  SELECT lang, y,
         COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (n + 1) / 2.0 AS r_y
  FROM gy
), j AS (
  SELECT base.lang,
         CAST(r_x AS DECIMAL(18,1)) AS dx,
         CAST(r_y AS DECIMAL(18,1)) AS dy
  FROM base JOIN rx USING (lang, x) JOIN ry USING (lang, y)
), a AS (
  SELECT lang, COUNT(*) AS n,
         SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(CAST(dx * dy AS DECIMAL(38,2))) AS sxy,
         SUM(CAST(dx * dx AS DECIMAL(38,2))) AS sxx,
         SUM(CAST(dy * dy AS DECIMAL(38,2))) AS syy
  FROM j GROUP BY 1
)
SELECT lang, n,
  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
FROM a ORDER BY lang
"""


def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift monitor per event type
    (Massey 1951; the distribution-shift alarm run next to psi_drift):
    the first time half is the reference sample, the second the
    current, and D = max |ECDF_ref - ECDF_cur| evaluated on a FIXED
    1000-bin quantization of the global value range (the
    monitoring-grade variant: exact KS needs a total order over every
    distinct double — the binned statistic is the KS of the quantized
    distributions, and 1000 bins bound the error at 0.001 of the value
    range). Flags drift at the asymptotic alpha=0.05 threshold
    1.358 * sqrt((n1+n2)/(n1*n2)) (Smirnov).

    Scale shape: global bounds fold in as a one-row broadcast; ONE
    (type, bin) agg shuffle; the ECDF cumulative window runs per type
    over <= 1000 bounded rows. Cum counts are integers, so both
    engines divide identically — no float-order risk."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (
            F.col("ts").cast("long") * 2 <= (F.col("t0") + F.col("t1"))
        ).alias("ref"),
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(999),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 1000.0)
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("ref"), 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(~F.col("ref"), 1).otherwise(0)).alias("c_cur"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    ecdf = (
        cnt.withColumn("cum_ref", F.sum("c_ref").over(wcum))
        .withColumn("cum_cur", F.sum("c_cur").over(wcum))
        .withColumn("n_ref", F.sum("c_ref").over(wall))
        .withColumn("n_cur", F.sum("c_cur").over(wall))
    )
    d = F.abs(
        F.col("cum_ref") / F.col("n_ref")
        - F.col("cum_cur") / F.col("n_cur")
    )
    out = ecdf.groupBy("event_type").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.round(F.max(d), 6).alias("ks_d"),
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n_ref") + F.col("n_cur"))
        / (F.col("n_ref").cast("double") * F.col("n_cur"))
    )
    return out.select(
        "event_type",
        "n_ref",
        "n_cur",
        "ks_d",
        (F.col("ks_d") > crit).alias("drifted"),
    ).orderBy("event_type")


KS_DRIFT_SQL = """
WITH bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi,
         epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1
  FROM events
), binned AS (
  SELECT event_type,
    epoch(ts) * 2 <= (t0 + t1) AS ref,
    CASE WHEN hi > lo
         THEN LEAST(999, CAST(floor((value - lo) / ((hi - lo) / 1000.0))
                              AS INT))
         ELSE 0 END AS bin
  FROM events, bounds
), cnt AS (
  SELECT event_type, bin,
         SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS c_ref,
         SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS c_cur
  FROM binned GROUP BY 1, 2
), ecdf AS (
  SELECT event_type,
         SUM(c_ref) OVER (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
         SUM(c_cur) OVER (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
         SUM(c_ref) OVER (PARTITION BY event_type) AS n_ref,
         SUM(c_cur) OVER (PARTITION BY event_type) AS n_cur
  FROM cnt
), agg AS (
  SELECT event_type,
         CAST(MAX(n_ref) AS BIGINT) AS n_ref,
         CAST(MAX(n_cur) AS BIGINT) AS n_cur,
         round(MAX(abs(cum_ref * 1.0 / n_ref - cum_cur * 1.0 / n_cur)), 6)
           AS ks_d
  FROM ecdf GROUP BY 1
)
SELECT event_type, n_ref, n_cur, ks_d,
       ks_d > 1.358 * sqrt((n_ref + n_cur) * 1.0 / (n_ref * n_cur))
         AS drifted
FROM agg ORDER BY event_type
"""



def log_odds_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted log-odds keyword extraction with an informative
    Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words",
    eq. 15-22): which tokens are most over-represented in the curated
    sources (src0-src3) vs the rest of the corpus — the corpus-
    comparison view a curation team reads before writing quality
    rules. alpha_w = a0 * corpus share (a0 = 100); z = delta / sqrt(
    1/(y_cw + a_w) + 1/(y_rw + a_w)); tokens with corpus count < 10
    are dropped; top 15 per side by z (ties broken on the term).

    Scale shape: ONE token agg shuffle (map-side partials), the group
    totals fold in as a one-row broadcast, and each side's top-15 is a
    TakeOrdered over the vocab — no global sort materializes."""
    docs = _t(spark, sf_dir, "documents")
    a0 = 100.0
    toks = docs.select(
        F.col("source").isin("src0", "src1", "src2", "src3").alias("cur"),
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    ).where(F.col("term") != "")
    per = toks.groupBy("term").agg(
        F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("y_c"),
        F.sum(F.when(F.col("cur"), 0).otherwise(1)).alias("y_r"),
    ).where(F.col("y_c") + F.col("y_r") >= 10)
    tot = per.agg(
        F.sum("y_c").alias("n_c"),
        F.sum("y_r").alias("n_r"),
        F.sum(F.col("y_c") + F.col("y_r")).alias("n_all"),
    )
    j = per.crossJoin(F.broadcast(tot))
    aw = a0 * (F.col("y_c") + F.col("y_r")) / F.col("n_all")
    delta = F.log(
        (F.col("y_c") + aw)
        / (F.col("n_c") + a0 - F.col("y_c") - aw)
    ) - F.log(
        (F.col("y_r") + aw)
        / (F.col("n_r") + a0 - F.col("y_r") - aw)
    )
    z = delta / F.sqrt(
        1.0 / (F.col("y_c") + aw) + 1.0 / (F.col("y_r") + aw)
    )
    scored = j.select(
        "term", "y_c", "y_r", F.round(z, 4).alias("z_odds")
    )
    top_cur = scored.orderBy(F.desc("z_odds"), "term").limit(15).select(
        "*", F.lit("curated").alias("side")
    )
    top_ref = scored.orderBy(F.asc("z_odds"), "term").limit(15).select(
        "*", F.lit("rest").alias("side")
    )
    return top_cur.unionAll(top_ref).orderBy(
        "side", F.desc(F.abs(F.col("z_odds"))), "term"
    )


LOG_ODDS_SQL = r"""
WITH toks AS (
  SELECT source IN ('src0','src1','src2','src3') AS cur,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
), per AS (
  SELECT term,
         CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS y_c,
         CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS y_r
  FROM toks WHERE term != '' GROUP BY 1
  HAVING SUM(1) >= 10
), tot AS (
  SELECT SUM(y_c) AS n_c, SUM(y_r) AS n_r, SUM(y_c + y_r) AS n_all FROM per
), scored AS (
  SELECT term, y_c, y_r,
    round((ln((y_c + 100.0 * (y_c + y_r) / n_all)
              / (n_c + 100.0 - y_c - 100.0 * (y_c + y_r) / n_all))
           - ln((y_r + 100.0 * (y_c + y_r) / n_all)
                / (n_r + 100.0 - y_r - 100.0 * (y_c + y_r) / n_all)))
          / sqrt(1.0 / (y_c + 100.0 * (y_c + y_r) / n_all)
                 + 1.0 / (y_r + 100.0 * (y_c + y_r) / n_all)), 4) AS z_odds
  FROM per, tot
)
SELECT * FROM (
  (SELECT term, y_c, y_r, z_odds, 'curated' AS side FROM scored
   ORDER BY z_odds DESC, term LIMIT 15)
  UNION ALL
  (SELECT term, y_c, y_r, z_odds, 'rest' AS side FROM scored
   ORDER BY z_odds ASC, term LIMIT 15)
)
ORDER BY side, abs(z_odds) DESC, term
"""


def host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph triangle census (node-iterator with ordered joins —
    Suri & Vassilvitskii 2011 MapReduce triangle counting): per-host
    triangle count, degree, and local clustering coefficient
    2T/(d(d-1)) — the link-farm / community screen next to
    host_pagerank. The graph extends _host_edges with hub-hub
    co-citation edges (hub(p1)-hub(p2), hub(p2)-hub(p3) per doc):
    source->hub edges alone are bipartite, which has NO triangles by
    construction.

    Scale shape: node-iterator++ — every edge is ORIENTED from its
    lower-(degree, host) endpoint to the higher one, wedges are
    enumerated only at each triangle's minimum vertex, and the closing
    edge check is a semi-join on the oriented set. Out-degree under
    degree ordering is O(sqrt(E)) (arboricity bound), so wedge volume
    is sum(outdeg^2) = O(E^1.5) worst case and hub-bounded in practice
    — the d_max^2 blowup of the unordered middle-vertex join is gone
    (a celebrity host contributes only its OUT-wedges, and high-degree
    nodes have near-zero out-degree). Each triangle {x,y,z} appears
    exactly once: at its (degree, host)-minimum vertex. Everything
    after the distinct is |hosts+edges|-bounded."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    hubs = [
        F.concat(
            F.lit("h"),
            F.pmod(F.col("doc_id") * p, F.lit(37)).cast("string"),
            F.lit(".example.org"),
        )
        for p in _PR_PRIMES
    ]
    raw = _host_edges(docs).unionAll(
        docs.select(hubs[0].alias("src"), hubs[1].alias("dst"))
    ).unionAll(docs.select(hubs[1].alias("src"), hubs[2].alias("dst")))
    edges = scoped_persist(
        raw.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("host"))
        .unionAll(edges.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # persisted (r16): deg is referenced 3x (du, dv, the final join) and
    # re-aggregated the cached edge frame each time; |hosts|-bounded
    # (sources + 37 synthetic hubs). Interleaved A/B at sf0.1: min
    # neutral (2.10/2.10), med 2.54 -> 2.28.
    deg = scoped_persist(deg)
    # orient each edge low->high in the (degree, host) total order;
    # carry the head's order key so wedge endpoints can be ordered too
    du = deg.select(F.col("host").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("host").alias("v"), F.col("degree").alias("dv"))
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = scoped_persist(
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(low_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        )
    )
    # wedges at the minimum vertex a: two out-edges a->b, a->c with
    # b before c in the order; the closing edge is then oriented b->c
    o1 = oriented.select(
        F.col("s").alias("a"), F.col("t").alias("b"), F.col("dt").alias("db")
    )
    o2 = oriented.select(
        F.col("s").alias("a"), F.col("t").alias("c"), F.col("dt").alias("dc")
    )
    wedges = o1.join(o2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    tris = wedges.join(
        oriented.select(F.col("s").alias("b"), F.col("t").alias("c")),
        ["b", "c"],
        "left_semi",
    ).select("a", "b", "c")
    member = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(member, "host", "left")
        .select(
            "host",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1.0)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
        .orderBy("host")
    )


def _host_triangles_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    return f"""
WITH raw AS (
  SELECT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[0]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[2]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
), edges AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src != dst
), tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.u = e1.u AND e3.v = e2.v)
), member AS (
  SELECT host, COUNT(*) AS triangles
  FROM (SELECT a AS host FROM tris UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
  GROUP BY 1
), deg AS (
  SELECT host, COUNT(*) AS degree
  FROM (SELECT u AS host FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY 1
)
SELECT deg.host, degree, COALESCE(triangles, 0) AS triangles,
       CASE WHEN degree >= 2
            THEN round(2.0 * COALESCE(triangles, 0)
                       / (degree * (degree - 1.0)), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN member ON deg.host = member.host
ORDER BY deg.host
"""


def edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join over customer names
    (Levenshtein 1966; the blocked similarity-join pattern of Gravano
    et al. 2001): candidate pairs from a FIXED-size blocking key
    (custkey div 100 — in a real pipeline a q-gram or phonetic key;
    the surrogate bucket is the deterministic stand-in), verified with
    exact Levenshtein <= 2. The fuzzy-matching primitive under entity
    resolution when Jaccard shingles (ngram_jaccard_dups) are too
    coarse. Top-300 by (distance, keys) keeps output bounded.

    Scale shape: the block key bounds every block at <= 100 rows, so
    candidates are <= 4,950 per block — pair volume stays LINEAR in
    the corpus; the verify step is a JVM levenshtein in codegen. One
    self-join shuffle on the block key."""
    cust = _t(spark, sf_dir, spread=True, name="customer").select(
        "c_custkey",
        "c_name",
        F.floor(F.col("c_custkey") / 100).alias("__blk"),
    )
    a = cust.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_name").alias("name_a"),
        "__blk",
    )
    b = cust.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_name").alias("name_b"),
        "__blk",
    )
    return (
        a.join(b, "__blk")
        .where(F.col("cust_a") < F.col("cust_b"))
        .select(
            "cust_a",
            "cust_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 2)
        .orderBy("edit_dist", "cust_a", "cust_b")
        .limit(300)
    )


EDIT_DIST_SQL = """
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       levenshtein(a.c_name, b.c_name) AS edit_dist
FROM customer a
JOIN customer b
  ON CAST(floor(a.c_custkey / 100) AS BIGINT)
     = CAST(floor(b.c_custkey / 100) AS BIGINT)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
ORDER BY edit_dist, cust_a, cust_b
LIMIT 300
"""


def mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall 2010,
    "Cutting the Gordian Knot: MATTR") — the length-invariant lexical
    diversity signal (plain TTR shrinks with doc length, so it cannot
    rank docs of different sizes; yule_k_diversity is the frequency-
    based alternative). Window W=25 whitespace tokens; docs shorter
    than W fall back to plain TTR. mattr = (sum of per-window distinct
    counts) / (W * n_windows) — computed as ONE integer sum and ONE
    division, so both engines agree bitwise.

    Scale shape: MAP-ONLY — the token split and the O(n*W) sliding
    distinct-count run as HOF expressions per row; no explode, no
    shuffle, the text column never moves."""
    W = 25
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    dsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n - W + 1),
            lambda i: F.size(F.array_distinct(F.slice(toks, i, W))),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mattr = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0.0))
        .when(
            n >= W,
            dsum.cast("double") / (F.lit(W) * (n - W + 1)),
        )
        .otherwise(
            F.size(F.array_distinct(toks)).cast("double") / n
        )
    )
    return docs.select(
        "doc_id",
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(n)
        .alias("n_tok"),
        F.round(mattr, 6).alias("mattr"),
    )


MATTR_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_tok,
  round(CASE
    WHEN len(toks) = 0 THEN 0.0
    WHEN len(toks) >= 25 THEN
      CAST(list_sum(list_transform(range(1, len(toks) - 25 + 2),
           i -> len(list_distinct(list_slice(toks, i, i + 24))))) AS DOUBLE)
        / (25 * (len(toks) - 25 + 1))
    ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
  END, 6) AS mattr
FROM t
"""


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over per-type daily event counts
    (Page 1954; the tabular form S+_t = max(0, S+_{t-1} + x_t - mu -
    k)) with k = 0.5 sigma slack and h = 4 sigma decision interval —
    the sustained-shift alarm that complements the point-outlier
    screens (ewma_anomaly / events_anomaly). Computed via the CLOSED
    FORM S_t = C_t - min(0, running-min C_t) where C is the cumsum of
    deviations — pure window functions, NO sequential fold, which also
    makes the recurrence exactly SQL-expressible (unlike the EWMA
    recurrence, whose state is nonlinear in the value).

    Exactness: daily counts are integers, so mu / sigma derive from
    exact integer sums; the deviation cumsum adds in the SAME day
    order on both engines — every double is bit-identical.

    Scale shape: one (type, day) agg shuffle; per-type stats join back
    as a |types|-row broadcast; the windows run per type over
    calendar-bounded daily rows (~365 rows/type/year — genuinely
    bounded state, the reason daily rollup precedes the scan)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("x").alias("__s"),
        F.sum(F.col("x") * F.col("x")).alias("__ss"),
    )
    mu = F.col("__s").cast("double") / F.col("__n")
    sigma = F.sqrt(
        F.col("__ss").cast("double") / F.col("__n") - mu * mu
    )
    j = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "x",
        mu.alias("__mu"),
        sigma.alias("__sig"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    up = F.sum(
        F.col("x") - F.col("__mu") - 0.5 * F.col("__sig")
    ).over(wc)
    dn = F.sum(
        F.col("__mu") - 0.5 * F.col("__sig") - F.col("x")
    ).over(wc)
    stepped = j.select(
        "event_type",
        "day",
        "x",
        (up - F.least(F.lit(0.0), F.min(up).over(wc))).alias("__sp"),
        (dn - F.least(F.lit(0.0), F.min(dn).over(wc))).alias("__sn"),
        (4.0 * F.col("__sig")).alias("__h"),
    )
    return stepped.select(
        "event_type",
        "day",
        "x",
        F.round("__sp", 6).alias("s_pos"),
        F.round("__sn", 6).alias("s_neg"),
        (
            (F.col("__sp") > F.col("__h"))
            | (F.col("__sn") > F.col("__h"))
        ).alias("alarm"),
    ).orderBy("event_type", "day")


CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type,
         SUM(x) * 1.0 / COUNT(*) AS mu,
         sqrt(SUM(x * x) * 1.0 / COUNT(*)
              - (SUM(x) * 1.0 / COUNT(*)) * (SUM(x) * 1.0 / COUNT(*)))
           AS sig
  FROM daily GROUP BY 1
), c AS (
  SELECT daily.event_type, day, x, mu, sig,
         SUM(x - mu - 0.5 * sig) OVER w AS cu,
         SUM(mu - 0.5 * sig - x) OVER w AS cd
  FROM daily JOIN stats USING (event_type)
  WINDOW w AS (PARTITION BY daily.event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT event_type, day, x,
         cu - LEAST(0.0, MIN(cu) OVER w) AS sp,
         cd - LEAST(0.0, MIN(cd) OVER w) AS sn,
         4.0 * sig AS h
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, x,
       round(sp, 6) AS s_pos, round(sn, 6) AS s_neg,
       (sp > h OR sn > h) AS alarm
FROM s ORDER BY event_type, day
"""



def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging (Bengio et al. 2009, "Curriculum Learning"):
    assign every document a training stage 0-3, easy to hard, by a
    deterministic difficulty signal — bucketed mean word length
    floor(10 * n_chars / tokens) (short words first, the classic
    text-curriculum proxy) — so a data loader can feed stages in
    order. Stage boundaries are QUANTILE cuts (each stage ~25% of the
    corpus), computed from cumulative counts per difficulty bucket.

    Scale shape: NO global sort — the stage cut folds per DIFFICULTY
    BUCKET (the auc_roc midrank discipline): one bounded (bucket) agg,
    a cumulative window over the bounded bucket frame, broadcast join
    back to rows. Integer arithmetic end to end (floor(cum*4/N)) —
    bit-stable on both engines."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text"))
    diff = F.when(tok > 0, F.floor(F.col("n_chars") * 10 / tok)).otherwise(
        F.lit(0)
    )
    base = docs.select("doc_id", diff.alias("difficulty"))
    per = base.groupBy("difficulty").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("difficulty").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cuts = per.select(
        "difficulty",
        F.least(
            F.lit(3),
            F.floor(
                F.coalesce(F.sum("n").over(w), F.lit(0))
                * 4
                / F.sum("n").over(wall)
            ).cast("int"),
        ).alias("stage"),
    )
    return (
        base.join(F.broadcast(cuts), "difficulty")
        .select("doc_id", "difficulty", "stage")
        .orderBy("stage", "difficulty", "doc_id")
    )


CURRICULUM_SQL = r"""
WITH base AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE CAST(floor(n_chars * 10
                / len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
    END AS difficulty
  FROM documents
), per AS (
  SELECT difficulty, COUNT(*) AS n FROM base GROUP BY 1
), cuts AS (
  SELECT difficulty,
    LEAST(3, CAST(floor(
      COALESCE(SUM(n) OVER (ORDER BY difficulty
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      * 4 / SUM(n) OVER ()) AS INT)) AS stage
  FROM per
)
SELECT doc_id, difficulty, stage
FROM base JOIN cuts USING (difficulty)
ORDER BY stage, difficulty, doc_id
"""


def score_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality score (the
    cross-source comparability step before ONE global threshold gates
    a mixed corpus — raw score scales differ by source, so FineWeb/
    DCLM-style pipelines compare percentiles, not raw values): each
    doc's score maps to its Hazen plotting position within its source,
    pct = (midrank - 0.5) / n (Hazen 1914 — the standard quantile
    convention), so 0.5 is always the source median.

    Scale shape: midranks fold per (source, score) GROUP — one bounded
    agg, per-source cumulative windows over bounded frames, broadcast
    join back (the spearman_corr discipline). Midranks are exact
    halves; one division — bit-stable cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    score = F.floor(F.col("n_chars") / 20).alias("score")
    base = docs.select("doc_id", "source", score)
    per = base.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("source")
    ranks = per.select(
        "source",
        "score",
        (
            (
                F.coalesce(F.sum("n").over(w), F.lit(0))
                + (F.col("n") + 1) / 2.0
                - 0.5
            )
            / F.sum("n").over(wall)
        ).alias("pct"),
    )
    return (
        base.join(F.broadcast(ranks), ["source", "score"])
        .select(
            "doc_id", "source", "score", F.round("pct", 6).alias("pct")
        )
        .orderBy("source", "score", "doc_id")
    )


QUANTILE_NORM_SQL = """
WITH base AS (
  SELECT doc_id, source, CAST(floor(n_chars / 20) AS BIGINT) AS score
  FROM documents
), per AS (
  SELECT source, score, COUNT(*) AS n FROM base GROUP BY 1, 2
), ranks AS (
  SELECT source, score,
    (COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY score
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
     + (n + 1) / 2.0 - 0.5)
    / SUM(n) OVER (PARTITION BY source) AS pct
  FROM per
)
SELECT doc_id, source, score, round(pct, 6) AS pct
FROM base JOIN ranks USING (source, score)
ORDER BY source, score, doc_id
"""



def l_diversity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate (Machanavajjhala et al. 2007,
    "l-Diversity: Privacy Beyond k-Anonymity") — the stronger sibling
    of k_anonymity_suppress: a quasi-identifier group is releasable
    only when its SENSITIVE attribute takes >= l distinct values
    (k-anonymity alone leaks when a small group is homogeneous in the
    sensitive column). QI = (nation, acctbal thousand-bucket) over
    customer, sensitive = market segment, k = 5, l = 3. Emits the
    per-group census with the release verdict — the audit table a
    privacy review reads, not just the surviving rows.

    Scale shape: ONE (QI) agg shuffle with map-side partials; the
    distinct-sensitive census rides the same shuffle (count_distinct
    expands to a two-phase partial-distinct under AQE). Output is
    |QI groups|-bounded."""
    cust = _t(spark, sf_dir, "customer")
    groups = (
        cust.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).alias("bal_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("k_size"),
            F.count_distinct("c_mktsegment").alias("l_distinct"),
        )
    )
    return groups.select(
        "c_nationkey",
        "bal_bucket",
        "k_size",
        "l_distinct",
        ((F.col("k_size") >= 5) & (F.col("l_distinct") >= 3)).alias(
            "released"
        ),
    ).orderBy("c_nationkey", "bal_bucket")


L_DIVERSITY_SQL = """
SELECT c_nationkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
       COUNT(*) AS k_size,
       COUNT(DISTINCT c_mktsegment) AS l_distinct,
       (COUNT(*) >= 5 AND COUNT(DISTINCT c_mktsegment) >= 3) AS released
FROM customer
GROUP BY 1, 2
ORDER BY c_nationkey, bal_bucket
"""


def conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal quality threshold per source (Vovk et al. 2005;
    Angelopoulos & Bates 2021 tutorial, eq. 2): the per-source score
    cutoff q_hat = the ceil((n+1)(1-alpha))-th smallest nonconformity
    score, alpha = 0.1 — the distribution-free way to set a quality
    gate with a coverage guarantee instead of an arbitrary global
    threshold (the finite-sample +1 correction is what distinguishes
    this from a plain quantile). Nonconformity = the bucketed length
    signal; emits q_hat and the kept count per source.

    Scale shape: the quantile folds per (source, score) GROUP — one
    bounded agg, a per-source cumulative window over the bounded
    frame, then a 1-row-per-source argmin (the first score whose
    cumulative count reaches the conformal rank). Integer arithmetic
    end to end."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source", F.floor(F.col("n_chars") / 20).alias("score")
    )
    per = base.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("n")
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("source")
    cum = per.select(
        "source",
        "score",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wall).alias("n_cal"),
    )
    rank_needed = F.ceil((F.col("n_cal") + 1) * 0.9).cast("long")
    qualifying = cum.where(F.col("cum") >= rank_needed)
    qhat = qualifying.groupBy("source").agg(
        F.min("score").alias("q_hat"), F.max("n_cal").alias("n_cal")
    )
    kept = (
        base.join(F.broadcast(qhat), "source")
        .where(F.col("score") <= F.col("q_hat"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        qhat.join(kept, "source")
        .select("source", "n_cal", "q_hat", "n_kept")
        .orderBy("source")
    )


CONFORMAL_SQL = """
WITH base AS (
  SELECT source, CAST(floor(n_chars / 20) AS BIGINT) AS score
  FROM documents
), per AS (
  SELECT source, score, COUNT(*) AS n FROM base GROUP BY 1, 2
), cum AS (
  SELECT source, score,
         SUM(n) OVER (PARTITION BY source ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY source) AS n_cal
  FROM per
), qhat AS (
  SELECT source, MIN(score) AS q_hat, CAST(MAX(n_cal) AS BIGINT) AS n_cal
  FROM cum
  WHERE cum >= CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)
  GROUP BY 1
), kept AS (
  SELECT base.source, COUNT(*) AS n_kept
  FROM base JOIN qhat ON base.source = qhat.source
  WHERE score <= q_hat
  GROUP BY 1
)
SELECT source, n_cal, q_hat, n_kept
FROM qhat JOIN kept USING (source)
ORDER BY source
"""



def hamilton_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-budget allocation across sources by the largest-
    remainder method (Hamilton 1792; the apportionment classic): given
    a 100,000-doc sampling budget and per-source token masses, each
    source gets floor(share * budget) seats, and the leftover seats go
    to the largest fractional remainders (ties by source name) — the
    EXACT integer allocation a mixture config needs after
    domain_temperature_mix / unimax_weights produce real-valued
    shares (naive rounding over- or under-shoots the budget; largest
    remainder never does).

    Scale shape: one |sources|-row rollup (map-side partials), then
    ALL apportionment arithmetic — quotas, floors, remainder ranks —
    runs over the bounded |sources| frame in windows. Quotas are
    exact-decimal-sum ratios, so both engines agree bitwise.

    Paired check: sum(seats) == budget by construction, asserted by
    the oracle comparison itself (any drift breaks every row's rank)."""
    budget = 100_000
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(text.token_count_ws(F.col("text"))).alias("mass")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    q = per.withColumn(
        "__quota",
        F.col("mass")
        / F.sum("mass").over(wall)
        * F.lit(float(budget)),
    ).withColumn("__floor", F.floor("__quota").cast("long"))
    leftover = q.withColumn(
        "__left", F.lit(budget) - F.sum("__floor").over(wall)
    ).withColumn(
        "__rr",
        F.row_number().over(
            Window.orderBy(
                F.desc(F.col("__quota") - F.col("__floor")), F.asc("source")
            )
        ),
    )
    return leftover.select(
        "source",
        "mass",
        F.round("__quota", 4).alias("quota"),
        (
            F.col("__floor")
            + F.when(F.col("__rr") <= F.col("__left"), 1).otherwise(0)
        ).alias("seats"),
    ).orderBy("source")


HAMILTON_SQL = r"""
WITH per AS (
  SELECT source,
         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS mass
  FROM documents GROUP BY 1
), q AS (
  SELECT source, mass,
         mass * 100000.0 / SUM(mass) OVER () AS quota,
         CAST(floor(mass * 100000.0 / SUM(mass) OVER ()) AS BIGINT) AS fl
  FROM per
), r AS (
  SELECT source, mass, quota, fl,
         100000 - SUM(fl) OVER () AS leftover,
         ROW_NUMBER() OVER (ORDER BY quota - fl DESC, source) AS rr
  FROM q
)
SELECT source, mass, round(quota, 4) AS quota,
       fl + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS seats
FROM r ORDER BY source
"""



_SWEEP_THRESHOLDS = (-4.0, -3.5, -3.0, -2.5, -2.0, -1.5, -1.0)


def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for the quality classifier (the PR-curve
    companion to the single-threshold `classifier_prf` and the
    rank-free `auc_roc`): precision / recall / F1 / kept-fraction of
    the `naive_bayes_quality` score at 7 fixed thresholds spanning the
    score's working range — the table a curation team reads to CHOOSE
    the gate, not just audit one. Comparisons run on the same
    round-4 score both engines emit, so boundary decisions can never
    drift cross-engine.

    Scale shape: rides the NB plan once; the sweep is a bounded x7
    literal explode AFTER the per-doc scores exist (7 rows per doc into
    a |thresholds|-row rollup with map-side partials)."""
    scored = naive_bayes_quality(spark, sf_dir).select("doc_id", "nb_score")
    labels = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("source").isin("src0", "src1").alias("pos"),
    )
    j = scored.join(labels, "doc_id").select(
        "nb_score",
        "pos",
        F.explode(
            F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
        ).alias("threshold"),
    )
    keep = F.col("nb_score") > F.col("threshold")
    agg = j.groupBy("threshold").agg(
        F.sum(F.when(keep & F.col("pos"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(keep & ~F.col("pos"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~keep & F.col("pos"), 1).otherwise(0)).alias("fn"),
        F.count(F.lit(1)).alias("n"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6
        ).alias("f1"),
        F.round((F.col("tp") + F.col("fp")) / F.col("n"), 6).alias(
            "kept_frac"
        ),
    ).orderBy("threshold")


def _threshold_sweep_sql() -> str:
    ts = ", ".join(f"CAST({t!r} AS DOUBLE)" for t in _SWEEP_THRESHOLDS)
    return f"""
WITH nb AS ({NAIVE_BAYES_SQL}),
j AS (
  SELECT nb_score, source IN ('src0', 'src1') AS pos, threshold
  FROM nb
  JOIN documents USING (doc_id),
  UNNEST([{ts}]) AS t(threshold)
), agg AS (
  SELECT threshold,
    CAST(SUM(CASE WHEN nb_score > threshold AND pos THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN nb_score > threshold AND NOT pos THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN nb_score <= threshold AND pos THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
    COUNT(*) AS n
  FROM j GROUP BY 1
)
SELECT threshold, tp, fp, fn,
  round(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE), 6) AS precision,
  round(tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 6) AS recall,
  round(2 * (tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE))
          * (tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE))
        / GREATEST(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE)
                   + tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 1e-12), 6)
    AS f1,
  round((tp + fp) / CAST(n AS DOUBLE), 6) AS kept_frac
FROM agg ORDER BY threshold
"""


def balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced training-shard assignment via snake (boustrophedon)
    ordering (the folklore balanced-partition trick; Graham 1969
    analyzes the greedy family): docs rank globally by token count
    descending, and rank i goes to shard (i mod 2K) folded back at K —
    so every shard gets one doc from each size stratum of 2K and the
    token skew across K=8 shards stays within one doc. The
    load-balancing sibling of `training_shards` (hash shards balance
    COUNTS, not SIZES — a few giant docs skew token totals).

    Scale shape: the global rank is the shared `_global_rank` two-phase
    pattern (repartitionByRange + broadcast offsets, skew-proof, no
    single-partition window); the final report is a K-row rollup.
    Output is the per-shard census plus the max/min token ratio — the
    number a trainer checks before launching."""
    K = 8
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", text.token_count_ws(F.col("text")).alias("n_tok")
    )
    ranked = _global_rank(
        sized, [F.desc("n_tok"), F.asc("doc_id")], "rank"
    )
    pos = (F.col("rank") - 1) % (2 * K)
    shard = F.when(pos < K, pos).otherwise(2 * K - 1 - pos)
    per = (
        ranked.select(shard.cast("int").alias("shard"), "n_tok")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "shard",
        "n_docs",
        "total_tokens",
        F.round(
            F.max("total_tokens").over(wall)
            / F.greatest(F.min("total_tokens").over(wall), F.lit(1)).cast(
                "double"
            ),
            6,
        ).alias("skew_ratio"),
    ).orderBy("shard")


BALANCED_SHARDS_SQL = r"""
WITH sized AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
  FROM documents
), ranked AS (
  SELECT n_tok,
         ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) AS rank
  FROM sized
), assigned AS (
  SELECT n_tok,
         CASE WHEN (rank - 1) % 16 < 8 THEN (rank - 1) % 16
              ELSE 15 - (rank - 1) % 16 END AS shard
  FROM ranked
), per AS (
  SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens
  FROM assigned GROUP BY 1
)
SELECT shard, n_docs, total_tokens,
       round(MAX(total_tokens) OVER ()
             / CAST(GREATEST(MIN(total_tokens) OVER (), 1) AS DOUBLE), 6)
         AS skew_ratio
FROM per ORDER BY shard
"""


def kwic_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance (the corpus-linguistics KWIC
    view, Luhn 1960) for the literal term 'data': every occurrence
    with up to 3 tokens of left and right context — the qualitative
    inspection surface a curation team uses to audit what a filter
    term actually matches before adding it to a rule. At most the
    first 2 occurrences per doc keep the fan-out bounded.

    Scale shape: MAP-ONLY — occurrence positions, context slices, and
    the per-doc cap are all HOF expressions over the token array; no
    explode until the final <=2-per-doc rows, no shuffle before the
    output sort."""
    term = "data"
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    hits = F.slice(
        F.filter(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.element_at(toks, i) == term,
        ),
        1,
        2,
    )
    out = docs.select(
        "doc_id",
        n.alias("__n"),
        toks.alias("__toks"),
        F.explode(hits).alias("pos"),
    )
    left = F.array_join(
        F.slice(
            F.col("__toks"),
            F.greatest(F.col("pos") - 3, F.lit(1)),
            F.least(F.lit(3), F.col("pos") - 1),
        ),
        " ",
    )
    right = F.array_join(
        F.slice(
            F.col("__toks"),
            F.col("pos") + 1,
            F.least(F.lit(3), F.col("__n") - F.col("pos")),
        ),
        " ",
    )
    return out.select(
        "doc_id", "pos", left.alias("left_ctx"), right.alias("right_ctx")
    ).orderBy("doc_id", "pos")


KWIC_SQL = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
  WHERE length(trim(text)) > 0
), hits AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(list_slice(
           list_filter(range(1, len(toks) + 1),
                       i -> toks[i] = 'data'), 1, 2)) AS pos
  FROM t
)
SELECT doc_id, pos,
  -- COALESCE: DuckDB's array_to_string over an EMPTY slice is NULL,
  -- Spark's array_join is '' (the refinedweb_line_filter precedent)
  COALESCE(array_to_string(
      list_slice(toks, GREATEST(pos - 3, 1), pos - 1), ' '), '')
    AS left_ctx,
  COALESCE(array_to_string(
      list_slice(toks, pos + 1, LEAST(pos + 3, n)), ' '), '')
    AS right_ctx
FROM hits ORDER BY doc_id, pos
"""



def centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the class-geometry diagnostic (which classes are embedding-space
    neighbors) read before choosing contrastive pairs or merging
    labels; the centroid machinery is `embedding_outliers`' (same
    posexplode + (label, pos) agg, same double-avg + round discipline
    that its exact oracle already proves cross-engine).

    Scale shape: ONE (label, pos) agg shuffle with map-side partials
    (|labels| x d rows out), centroids reassemble via sorted
    collect_list into a |labels|-row frame, and the pair join is
    |labels|^2 / 2 — bounded by the label vocabulary, never by the
    corpus. The embedding column itself never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    cen = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    )
    a = cen.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("ca")
    )
    b = cen.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("cb")
    )
    pairs = a.join(b, F.col("label_a") < F.col("label_b"))
    dot = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(dot / (nrm(F.col("ca")) * nrm(F.col("cb"))), 4).alias(
            "cosine"
        ),
    ).orderBy("label_a", "label_b")


CENTROID_DIST_SQL = """
WITH ex AS (
  SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
), cen AS (
  SELECT label, pos, AVG(x) AS m FROM ex GROUP BY 1, 2
), cvec AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM cen GROUP BY 1
), pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         a.centroid AS ca, b.centroid AS cb
  FROM cvec a JOIN cvec b ON a.label < b.label
)
SELECT label_a, label_b,
  round(list_sum(list_transform(range(1, len(ca) + 1), i -> ca[i] * cb[i]))
        / (sqrt(list_sum(list_transform(ca, v -> v * v)))
           * sqrt(list_sum(list_transform(cb, v -> v * v)))), 4) AS cosine
FROM pairs ORDER BY label_a, label_b
"""


def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series per type (the moving-average method of Persons 1919 — the
    classical-decomposition step STL generalizes): trend = centered
    25-hour moving average (full windows only), seasonal = the
    hour-of-day mean of the detrended series re-centered to zero,
    remainder = what neither explains — the monitoring view that
    separates "traffic grows" from "it is 3am" before an alert fires
    (cusum/ewma watch the remainder, not the raw series).

    Scale shape: one (type, hour) rollup bounds everything downstream
    by the calendar (the cusum_changepoint discipline); the MA window
    and the hour-of-day means run per type over those bounded rows.
    Counts are integers, so the MA is exact; the seasonal means are
    double sums over <= |days| values rounded at 6 dp."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hh")
    ).agg(F.count(F.lit(1)).alias("x"))
    wma = (
        Window.partitionBy("event_type")
        .orderBy("hh")
        .rowsBetween(-12, 12)
    )
    t = hourly.withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(wma) == 25,
            F.sum("x").over(wma) / 25.0,
        ),
    ).withColumn("detr", F.col("x") - F.col("trend"))
    whod = Window.partitionBy("event_type", F.hour("hh"))
    wtyp = Window.partitionBy("event_type")
    s = t.withColumn(
        "raw_seas", F.avg("detr").over(whod)
    ).withColumn(
        "seasonal", F.col("raw_seas") - F.avg("raw_seas").over(wtyp)
    )
    return s.select(
        "event_type",
        "hh",
        "x",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(
            F.col("x") - F.col("trend") - F.col("seasonal"), 6
        ).alias("remainder"),
    ).orderBy("event_type", "hh")


SEASONAL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hh, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, hh, x,
    CASE WHEN COUNT(*) OVER w = 25 THEN SUM(x) OVER w / 25.0 END AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hh
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), d AS (
  SELECT *, x - trend AS detr FROM t
), s AS (
  SELECT *,
    AVG(detr) OVER (PARTITION BY event_type, EXTRACT(hour FROM hh))
      AS raw_seas
  FROM d
), z AS (
  SELECT *,
    raw_seas - AVG(raw_seas) OVER (PARTITION BY event_type) AS seasonal
  FROM s
)
SELECT event_type, hh, x,
       round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(x - trend - seasonal, 6) AS remainder
FROM z ORDER BY event_type, hh
"""



def trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend detection per event type: the Theil-Sen slope
    estimator (Theil 1950; Sen 1968 — median of all pairwise slopes,
    29%-breakdown robust where OLS is 0%) plus the Mann-Kendall trend
    test (Mann 1945; Kendall 1975) with the tie-corrected variance —
    the standard nonparametric pair a monitoring pipeline runs on
    daily volumes before claiming "traffic is growing". Verdict at
    |z| > 1.96 (alpha = 0.05 two-sided).

    Scale shape: the daily rollup bounds the pairwise frame by the
    CALENDAR (the cusum_changepoint discipline — n days, not n events;
    6 years = ~2.4M pairs per type, a bounded self-join, never
    corpus^2); the median slope uses per-type midrank windows over
    that bounded frame; MK variance is pure integer arithmetic over
    tie groups. Slopes are single divisions of integers — both
    engines agree bitwise."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    a = daily.select(
        "event_type",
        F.col("day").alias("d1"),
        F.col("x").alias("x1"),
    )
    b = daily.select(
        "event_type",
        F.col("day").alias("d2"),
        F.col("x").alias("x2"),
    )
    pairs = a.join(b, "event_type").where(F.col("d1") < F.col("d2"))
    slopes = pairs.select(
        "event_type",
        (
            (F.col("x2") - F.col("x1"))
            / F.datediff(F.col("d2"), F.col("d1")).cast("double")
        ).alias("slope"),
        F.signum(F.col("x2") - F.col("x1")).cast("long").alias("sgn"),
    )
    wrank = Window.partitionBy("event_type").orderBy("slope")
    wall = Window.partitionBy("event_type")
    med = (
        slopes.withColumn("__r", F.row_number().over(wrank))
        .withColumn("__m", F.count(F.lit(1)).over(wall))
        .where(
            # integer-exact two-middle selection: for odd m both
            # expressions pick the same middle rank; for even m they
            # pick m/2 and m/2+1 (textbook median average). Must be
            # integer math on BOTH engines — float (m+1)/2 vs DuckDB's
            # half-to-even CAST silently diverges when m % 4 in (0, 1).
            (F.col("__r") == F.floor((F.col("__m") + 1) / 2))
            | (F.col("__r") == F.floor(F.col("__m") / 2) + 1)
        )
        .groupBy("event_type")
        .agg(F.avg("slope").alias("sen_slope"), F.sum("sgn").alias("mk_s"))
    )
    # mk_s from the medians frame would double-count; recompute cleanly
    s_and_n = slopes.groupBy("event_type").agg(
        F.sum("sgn").alias("mk_s")
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
            F.sum("t").alias("n"),
        )
    )
    var = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / 18.0
    z = (
        F.when(
            F.col("mk_s") > 0,
            (F.col("mk_s") - 1) / F.sqrt(var),
        )
        .when(F.col("mk_s") < 0, (F.col("mk_s") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return (
        med.select("event_type", "sen_slope")
        .join(s_and_n, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round("sen_slope", 6).alias("sen_slope"),
            "mk_s",
            F.round(z, 4).alias("mk_z"),
            F.when(z > 1.96, "increasing")
            .when(z < -1.96, "decreasing")
            .otherwise("no_trend")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


TREND_TEST_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         (b.x - a.x) / CAST(date_diff('day', a.day, b.day) AS DOUBLE)
           AS slope,
         CAST(sign(b.x - a.x) AS BIGINT) AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), med AS (
  SELECT event_type, AVG(slope) AS sen_slope
  FROM (
    SELECT event_type, slope,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS r,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM pairs
  )
  WHERE r = (m + 1) // 2 OR r = m // 2 + 1
  GROUP BY 1
), sgn AS (
  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS mk_s FROM pairs GROUP BY 1
), ties AS (
  SELECT event_type,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT event_type, x, COUNT(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
), j AS (
  SELECT med.event_type, n, sen_slope, mk_s,
    (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0 AS var
  FROM med JOIN sgn USING (event_type) JOIN ties USING (event_type)
), z AS (
  SELECT event_type, n AS n_days, sen_slope, mk_s,
    CASE WHEN mk_s > 0 THEN (mk_s - 1) / sqrt(var)
         WHEN mk_s < 0 THEN (mk_s + 1) / sqrt(var)
         ELSE 0.0 END AS zval
  FROM j
)
SELECT event_type, n_days, round(sen_slope, 6) AS sen_slope, mk_s,
       round(zval, 4) AS mk_z,
       CASE WHEN zval > 1.96 THEN 'increasing'
            WHEN zval < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS verdict
FROM z ORDER BY event_type
"""


def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (Kaplan & Meier 1958) —
    the censoring-aware funnel read (a naive "mean days to purchase"
    over converters only is survivorship-biased: users who have not
    converted YET contribute no time at all): t = days from a user's
    first event to their first PURCHASE; users with no purchase by the
    window end are right-censored at their observation span. S(t) =
    P(still unconverted after t days) multiplies (1 - d_t/n_t) over
    conversion days — computed as exp(cum-sum of ln terms) over the
    day-ordered bounded frame.

    Scale shape: one per-user rollup (user-keyed shuffle), then
    EVERYTHING is calendar-bounded: durations land in a |days| domain,
    at-risk counts come from cumulative windows over that bounded
    frame — no per-user data survives the first agg. The ln/exp chain
    runs over a deterministic day order on both engines."""
    ev = _t(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("conv_ts"),
    )
    horizon = ev.agg(F.max("ts").alias("max_ts"))
    users = span.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("conv_ts").isNotNull(),
            F.datediff(F.to_date("conv_ts"), F.to_date("first_ts")),
        )
        .otherwise(
            F.datediff(F.to_date("max_ts"), F.to_date("first_ts"))
        )
        .alias("t"),
        F.col("conv_ts").isNull().alias("censored"),
    )
    per_t = users.groupBy("t").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("ending"),
    )
    wge = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    at_risk = per_t.withColumn(
        "n_risk",
        F.sum("ending").over(wall)
        - F.coalesce(F.sum("ending").over(wge), F.lit(0)),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # the final cohort can convert in full (factor 0): ln(0) is NULL on
    # Spark but an ERROR on DuckDB — survival is exactly 0 from the
    # first zero factor on, so both engines special-case it
    factor = 1.0 - F.col("d") / F.col("n_risk").cast("double")
    surv = (
        at_risk.where(F.col("d") > 0)
        .withColumn(
            "__lnsum",
            F.sum(
                F.when(factor > 0, F.log(factor)).otherwise(F.lit(0.0))
            ).over(wcum),
        )
        .withColumn(
            "__hit0",
            F.max(F.when(factor == 0, 1).otherwise(0)).over(wcum),
        )
        .withColumn(
            "survival",
            F.when(F.col("__hit0") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("__lnsum"))
            ),
        )
    )
    return surv.select(
        F.col("t").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d_events"),
        F.round("survival", 6).alias("survival"),
    ).orderBy("t_days")


KAPLAN_MEIER_SQL = """
WITH span AS (
  SELECT user_id, MIN(ts) AS first_ts,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts
  FROM events GROUP BY 1
), horizon AS (
  SELECT MAX(ts) AS max_ts FROM events
), users AS (
  SELECT CASE WHEN conv_ts IS NOT NULL
              THEN date_diff('day', CAST(first_ts AS DATE),
                             CAST(conv_ts AS DATE))
              ELSE date_diff('day', CAST(first_ts AS DATE),
                             CAST(max_ts AS DATE)) END AS t,
         conv_ts IS NULL AS censored
  FROM span, horizon
), per_t AS (
  SELECT t,
         CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
           AS d,
         COUNT(*) AS ending
  FROM users GROUP BY 1
), at_risk AS (
  SELECT t, d,
         SUM(ending) OVER ()
         - COALESCE(SUM(ending) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM per_t
), surv AS (
  SELECT t, d, n_risk,
    CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w = 1
         THEN 0.0
         ELSE exp(SUM(CASE WHEN d < n_risk
                           THEN ln(1.0 - d / CAST(n_risk AS DOUBLE))
                           ELSE 0.0 END) OVER w) END AS survival
  FROM at_risk
  WHERE d > 0
  WINDOW w AS (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk, d AS d_events,
       round(survival, 6) AS survival
FROM surv ORDER BY t_days
"""



def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng, Xu, Kohavi &
    Walker 2013, "Improving the Sensitivity of Online Controlled
    Experiments"): each user's POST-period metric is adjusted by their
    PRE-period covariate, Y' = Y - theta (X - mean X) with theta =
    cov(X,Y)/var(X) pooled across arms — the standard trick that cuts
    experiment runtimes ~40-50% because user-level baselines absorb
    between-user variance. Arms are the deterministic user_id parity;
    pre/post split at the time midpoint. Emits per-arm raw and
    adjusted means plus the variance-reduction fraction 1 -
    var(Y')/var(Y) — the number an experimentation platform quotes.

    Scale shape: one per-user (pre, post) rollup, then EVERYTHING is
    scalar: theta and the means fold in as one-row broadcasts; the
    final frame is 2 rows. Moment sums run in DECIMAL over the
    integer per-user counts, so theta is bit-identical cross-engine."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts").cast("long") * 2
                    <= F.col("t0") + F.col("t1"),
                    1,
                ).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("ts").cast("long") * 2
                    > F.col("t0") + F.col("t1"),
                    1,
                ).otherwise(0)
            ).alias("y"),
        )
        .select(
            (F.col("user_id") % 2 == 1).alias("treated"), "x", "y"
        )
    )
    dx = F.col("x").cast("decimal(18,0)")
    dy = F.col("y").cast("decimal(18,0)")
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
    )
    nn = F.col("n").cast("double")
    theta = (
        nn * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nn * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    consts = mom.select(
        theta.alias("__theta"),
        (F.col("sx").cast("double") / nn).alias("__mx"),
    )
    adj = per_user.crossJoin(F.broadcast(consts)).select(
        "treated",
        F.col("y").cast("double").alias("yv"),
        (
            F.col("y")
            - F.col("__theta") * (F.col("x") - F.col("__mx"))
        ).alias("ya"),
    )
    return (
        adj.groupBy("treated")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("yv"), 6).alias("raw_mean"),
            F.round(F.avg("ya"), 6).alias("cuped_mean"),
            F.round(
                1.0 - F.var_pop("ya") / F.var_pop("yv"), 6
            ).alias("var_reduction"),
        )
        .orderBy("treated")
    )


CUPED_SQL = """
WITH bounds AS (
  SELECT epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1 FROM events
), per_user AS (
  SELECT user_id % 2 = 1 AS treated,
         CAST(SUM(CASE WHEN epoch(ts) * 2 <= t0 + t1 THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN epoch(ts) * 2 > t0 + t1 THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events, bounds
  GROUP BY user_id
), mom AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(18,0))) AS sx,
         SUM(CAST(y AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx
  FROM per_user
), consts AS (
  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
         CAST(sx AS DOUBLE) / n AS mx
  FROM mom
), adj AS (
  SELECT treated, CAST(y AS DOUBLE) AS yv,
         y - theta * (x - mx) AS ya
  FROM per_user, consts
)
SELECT treated, COUNT(*) AS n_users,
       round(AVG(yv), 6) AS raw_mean,
       round(AVG(ya), 6) AS cuped_mean,
       round(1.0 - var_pop(ya) / var_pop(yv), 6) AS var_reduction
FROM adj GROUP BY 1 ORDER BY treated
"""


# --------------------------------------------------------------------------
# NEW r15 operators (registry tail — rotate into the r16 window after the
# 4-query r14 spill)
# --------------------------------------------------------------------------


def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test (Mann & Whitney 1947)
    per event_type: does the treated arm's value distribution
    stochastically dominate control? The nonparametric A/B readout an
    experimentation platform runs when values are skewed and a t-test's
    normality assumption fails. Arms are the deterministic user_id
    parity (the cuped_adjustment convention). Values are 1000-bin
    quantized (the ks_drift discipline), and the statistic is the
    tie-corrected U over the quantized variable: midranks fold per
    (type, bin) GROUP — never a per-row sort. z uses the tie-corrected
    variance; no continuity correction (documented, same both sides).

    Scale shape: one (type, bin, arm) rollup (<=1000 bins x 2 arms per
    type — bounded), cumulative windows over that bounded frame, and
    scalar assembly. The one-row min/max frame broadcasts."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("treated"),
        F.least(
            F.lit(999),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 1000.0
            ),
        ).alias("bin"),
    )
    per = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("treated"), 0).otherwise(1)).alias("nc"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("nt") + F.col("nc")
    ranked = per.select(
        "event_type",
        "nt",
        "nc",
        t.alias("t"),
        (
            F.coalesce(F.sum(F.col("nt") + F.col("nc")).over(w), F.lit(0))
            + (t + 1) / 2.0
        ).alias("midrank"),
    )
    # tie term cubes per-bin counts: at 100 TB a popular bin can hold
    # ~1e8 rows and t^3 overflows LONG — cube in DECIMAL
    td = F.col("t").cast("decimal(12,0)")
    agg = ranked.groupBy("event_type").agg(
        F.sum("nt").alias("n1"),
        F.sum("nc").alias("n2"),
        F.sum(F.col("nt") * F.col("midrank")).alias("r1"),
        F.sum((td * td * td - td).cast("decimal(38,0)")).alias("ties"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nn = n1 + n2
    u = F.col("r1") - n1 * (n1 + 1) / 2.0
    var = (
        n1 * n2 / 12.0
        * ((nn + 1) - F.col("ties").cast("double") / (nn * (nn - 1)))
    )
    z = (u - n1 * n2 / 2.0) / F.sqrt(var)
    return agg.select(
        "event_type",
        F.col("n1").alias("n_treated"),
        F.col("n2").alias("n_control"),
        F.round(u, 1).alias("u_stat"),
        F.round(z, 4).alias("z"),
        F.when(z > 1.96, "treated_higher")
        .when(z < -1.96, "control_higher")
        .otherwise("no_difference")
        .alias("verdict"),
    ).orderBy("event_type")


MANN_WHITNEY_SQL = """
WITH bounds AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events
), binned AS (
  SELECT event_type, user_id % 2 = 1 AS treated,
         LEAST(999, CAST(FLOOR((value - vmin) / (vmax - vmin) * 1000.0)
                         AS BIGINT)) AS bin
  FROM events, bounds
), per AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT) AS nc
  FROM binned GROUP BY 1, 2
), ranked AS (
  SELECT event_type, nt, nc, nt + nc AS t,
         COALESCE(SUM(nt + nc) OVER (
           PARTITION BY event_type ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (nt + nc + 1) / 2.0 AS midrank
  FROM per
), agg AS (
  SELECT event_type,
         CAST(SUM(nt) AS BIGINT) AS n1, CAST(SUM(nc) AS BIGINT) AS n2,
         SUM(nt * midrank) AS r1,
         CAST(SUM(t * t * t - t) AS BIGINT) AS ties
  FROM ranked GROUP BY 1
), stat AS (
  SELECT event_type, n1, n2,
         r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 AS u,
         (r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0
          - CAST(n1 AS DOUBLE) * n2 / 2.0)
         / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                * ((CAST(n1 AS DOUBLE) + n2 + 1)
                   - CAST(ties AS DOUBLE)
                     / ((CAST(n1 AS DOUBLE) + n2)
                        * (CAST(n1 AS DOUBLE) + n2 - 1)))) AS z
  FROM agg
)
SELECT event_type, n1 AS n_treated, n2 AS n_control,
       round(u, 1) AS u_stat, round(z, 4) AS z,
       CASE WHEN z > 1.96 THEN 'treated_higher'
            WHEN z < -1.96 THEN 'control_higher'
            ELSE 'no_difference' END AS verdict
FROM stat ORDER BY event_type
"""


def levene_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe Levene test (Levene 1960; Brown & Forsythe 1974 —
    the median-centered variant, robust to non-normality): are the
    event-type groups' value variances equal? The homoscedasticity
    screen run before pooling variances in an ANOVA or stacking groups
    into one control chart. Deviations are |v - median(group)| with the
    group median EXACT over integer-floored cents (the
    robust_source_stats histogram-rank discipline: lower median =
    smallest cent value whose cumulative count reaches ceil(n/2));
    the one-way ANOVA F over those deviations runs in DECIMAL moments.

    Scale shape: a (type, cents) histogram rollup (bounded by the value
    domain in cents), a cumulative window over that bounded frame for
    the median, a broadcast median join back, then one decimal-moment
    rollup — no per-row sort anywhere."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100).alias("vc")
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(F.col("cum") - F.col("cnt") < F.ceil(F.col("n") / 2))
        .where(F.col("cum") >= F.ceil(F.col("n") / 2))
        .select("event_type", F.col("vc").alias("med"))
    )
    dev = cents.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("vc") - F.col("med")).alias("z")
    )
    dz = F.col("z").cast("decimal(18,0)")
    g = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(dz).alias("sz"),
        F.sum((dz * dz).cast("decimal(38,0)")).alias("szz"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sz").alias("s"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ngd = F.col("ng").cast("double")
    szd = F.col("sz").cast("double")
    between = F.sum(
        ngd
        * (szd / ngd - F.col("s").cast("double") / F.col("n").cast("double"))
        * (szd / ngd - F.col("s").cast("double") / F.col("n").cast("double"))
    )
    within = F.sum(F.col("szz").cast("double") - szd * szd / ngd)
    out = j.groupBy("k", "n").agg(
        between.alias("ssb"), within.alias("ssw")
    )
    fstat = (
        F.col("ssb") / (F.col("k") - 1).cast("double")
    ) / (
        F.col("ssw") / (F.col("n") - F.col("k")).cast("double")
    )
    return out.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round("ssb", 4).alias("ss_between"),
        F.round("ssw", 4).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"),
    )


LEVENE_SQL = """
WITH cents AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS vc FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), med AS (
  SELECT event_type, vc AS med
  FROM (
    SELECT event_type, vc, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
  )
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), dev AS (
  SELECT cents.event_type, ABS(vc - med) AS z
  FROM cents JOIN med ON cents.event_type = med.event_type
), g AS (
  SELECT event_type, COUNT(*) AS ng,
         SUM(CAST(z AS DECIMAL(18,0))) AS sz,
         SUM(CAST(CAST(z AS DECIMAL(18,0)) * CAST(z AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS szz
  FROM dev GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n, SUM(sz) AS s FROM g
), parts AS (
  SELECT k, n,
         SUM(CAST(ng AS DOUBLE)
             * (CAST(sz AS DOUBLE) / ng - CAST(s AS DOUBLE) / n)
             * (CAST(sz AS DOUBLE) / ng - CAST(s AS DOUBLE) / n)) AS ssb,
         SUM(CAST(szz AS DOUBLE)
             - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / ng) AS ssw
  FROM g, tot GROUP BY 1, 2
)
SELECT k AS n_groups, n AS n_obs,
       round(ssb, 4) AS ss_between, round(ssw, 4) AS ss_within,
       round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
FROM parts
"""


def wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence interval (Wilson 1927) for each source's
    short-document defect rate (n_chars < 200) — the interval a data
    quality dashboard should quote instead of the Wald interval, which
    collapses to zero width at p=0 and undercovers at small n. Closed
    form: (p + z^2/2n +- z*sqrt(p(1-p)/n + z^2/4n^2)) / (1 + z^2/n),
    z = 1.96.

    Scale shape: one source-keyed rollup, then pure scalar arithmetic —
    map-only after the agg; output bounded by |sources|."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).alias("k"),
    )
    z = 1.96
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = 1.0 + z * z / n
    center = (p + z * z / (2.0 * n)) / denom
    half = (
        z
        * F.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
        / denom
    )
    return agg.select(
        "source",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    ).orderBy("source")


WILSON_CI_SQL = """
WITH agg AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY 1
), s AS (
  SELECT source, n, k,
         CAST(k AS DOUBLE) / n AS p,
         1.0 + 1.96 * 1.96 / n AS denom
  FROM agg
)
SELECT source, n, k, round(p, 6) AS p_hat,
       round(((p + 1.96 * 1.96 / (2.0 * n))
              - 1.96 * sqrt(p * (1.0 - p) / n
                            + 1.96 * 1.96 / (4.0 * n * n))) / denom,
             6) AS ci_lo,
       round(((p + 1.96 * 1.96 / (2.0 * n))
              + 1.96 * sqrt(p * (1.0 - p) / n
                            + 1.96 * 1.96 / (4.0 * n * n))) / denom,
             6) AS ci_hi
FROM s ORDER BY source
"""


def benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (Benford 1938; Nigrini 2012's fraud
    audit staple) over order totals: observed leading-digit shares vs
    the log10(1 + 1/d) law, with each digit's standardized deviation —
    the anomaly read an auditor runs over transaction amounts before
    drilling in. Leading digit extracted arithmetically
    (p / 10^floor(log10 p)), never via string formatting.

    Scale shape: map-only digit extraction + a 9-group rollup; the
    1-row total broadcasts. Output is exactly 9 rows."""
    od = _t(spark, sf_dir, "orders")
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    per = (
        od.where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = per.agg(F.sum("cnt").alias("n"))
    j = per.crossJoin(F.broadcast(tot))
    obs = F.col("cnt").cast("double") / F.col("n").cast("double")
    exp_share = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    zdev = (obs - exp_share) / F.sqrt(
        exp_share * (1.0 - exp_share) / F.col("n").cast("double")
    )
    return j.select(
        "digit",
        "cnt",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp_share, 6).alias("benford_share"),
        F.round(zdev, 4).alias("z_dev"),
    ).orderBy("digit")


BENFORD_SQL = """
WITH per AS (
  SELECT CAST(FLOOR(o_totalprice
              / POWER(10.0, FLOOR(LOG10(o_totalprice)))) AS INTEGER)
           AS digit,
         COUNT(*) AS cnt
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM per
)
SELECT digit, cnt,
       round(CAST(cnt AS DOUBLE) / n, 6) AS obs_share,
       round(LOG10(1.0 + 1.0 / digit), 6) AS benford_share,
       round((CAST(cnt AS DOUBLE) / n - LOG10(1.0 + 1.0 / digit))
             / sqrt(LOG10(1.0 + 1.0 / digit)
                    * (1.0 - LOG10(1.0 + 1.0 / digit)) / n), 4) AS z_dev
FROM per, tot ORDER BY digit
"""


def page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-drift detector (Page 1954's CUSUM variant as
    formulated for stream mining by Mouss et al. 2004 / Gama et al.
    2014 survey): per event_type, the statistic U_T = sum_t (x_t -
    xbar_t) over daily mean values (xbar_t = running mean of the first
    t days), with PH_T = U_T - min_{s<=T} U_s and an alarm when PH
    exceeds lambda = 3 * stddev of the daily means. Emits each type's
    peak PH, the day it peaked, lambda, and the drift verdict — the
    batch readout of the classic online detector (cusum_changepoint's
    sibling for MEAN shifts in a value metric, not counts).

    Scale shape: the daily rollup bounds everything by the CALENDAR;
    daily means use DECIMAL(18,2) sums over doubles (the suite-wide
    determinism discipline), and all windows run over the |days|
    frame. Output is |types| rows."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (
                F.sum(_dec(F.col("value"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("x")
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    cum = (
        daily.withColumn("t", F.row_number().over(wd))
        .withColumn(
            "xbar",
            F.sum("x").over(wd.rowsBetween(Window.unboundedPreceding, 0))
            / F.col("t").cast("double"),
        )
        .withColumn(
            "u",
            F.sum(F.col("x") - F.col("xbar")).over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "ph",
            F.col("u")
            - F.min("u").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    lam = daily.groupBy("event_type").agg(
        (3.0 * F.stddev_pop("x")).alias("lambda_")
    )
    peak = (
        cum.groupBy("event_type")
        .agg(F.max(F.struct("ph", "day")).alias("pk"))
        .select(
            "event_type",
            F.col("pk.ph").alias("ph_max"),
            F.col("pk.day").alias("peak_day"),
        )
    )
    return (
        peak.join(lam, "event_type")
        .select(
            "event_type",
            "peak_day",
            F.round("ph_max", 6).alias("ph_max"),
            F.round("lambda_", 6).alias("lambda_"),
            F.when(F.col("ph_max") > F.col("lambda_"), "drift")
            .otherwise("stable")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


PAGE_HINKLEY_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, day, x,
         ROW_NUMBER() OVER w AS t,
         SUM(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
), u AS (
  SELECT event_type, day,
         SUM(x - sx / t) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
  FROM cum
), ph AS (
  SELECT event_type, day,
         u - MIN(u) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM u
), peak AS (
  SELECT event_type, day AS peak_day, ph AS ph_max
  FROM (
    SELECT event_type, day, ph,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY ph DESC, day DESC) AS rn
    FROM ph
  )
  WHERE rn = 1
), lam AS (
  SELECT event_type, 3.0 * stddev_pop(x) AS lambda_ FROM daily GROUP BY 1
)
SELECT peak.event_type, peak_day,
       round(ph_max, 6) AS ph_max, round(lambda_, 6) AS lambda_,
       CASE WHEN ph_max > lambda_ THEN 'drift' ELSE 'stable' END AS verdict
FROM peak JOIN lam ON peak.event_type = lam.event_type
ORDER BY peak.event_type
"""


def exp_smooth_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing of the daily value level (Brown 1956;
    Hunter 1986's EWMA chart statistic) per event_type, with a
    TRUNCATED 14-day kernel at alpha = 0.5: S_t = sum_k 0.5^k x_{t-k}
    / sum_k 0.5^k over the present lags — the dashboard smoother for a
    noisy daily metric. Emits the last 28 days per type (day, actual,
    smoothed). The truncation (documented) is what makes the op
    EXACTLY reproducible cross-engine: 0.5^k has exactly k decimal
    digits, so kernel weights are DECIMAL(18,14) literals, daily means
    quantize to DECIMAL cents, and the weighted sum runs entirely in
    DECIMAL — no float-order ambiguity. Missing days renormalize by
    the present weights (numerator and denominator both decimal).

    Scale shape: calendar-bounded daily rollup, 14 LAG terms over the
    |days| window, bounded output (28 rows x |types|)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (F.sum(_dec(F.col("value"))) / F.count(F.lit(1)))
            .cast("decimal(18,6)")
            .alias("x")
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    # each term is EXACT at scale 19 (13 weight digits + 6 value digits),
    # and 13 chained adds grow precision only to ~37 — below the decimal
    # cap on BOTH engines, so no mid-sum scale reduction ever rounds
    num = None
    den = None
    for k in range(14):
        wgt = F.lit(str(0.5**k)).cast("decimal(18,14)")
        xk = F.lag("x", k).over(wd)
        tn = F.coalesce(
            (wgt * xk).cast("decimal(24,19)"),
            F.lit(0).cast("decimal(24,19)"),
        )
        td = F.when(xk.isNotNull(), wgt).otherwise(
            F.lit(0).cast("decimal(18,14)")
        )
        num = tn if num is None else num + tn
        den = td if den is None else den + td
    sm = daily.select(
        "event_type",
        "day",
        "x",
        (num.cast("double") / den.cast("double")).alias("smoothed"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("day"))
        ).alias("__rn"),
    )
    return (
        sm.where(F.col("__rn") <= 28)
        .select(
            "event_type",
            "day",
            F.col("x").cast("double").alias("actual"),
            F.round("smoothed", 6).alias("smoothed"),
        )
        .orderBy("event_type", "day")
    )


def _exp_smooth_sql() -> str:
    num = " + ".join(
        f"COALESCE(CAST(CAST({0.5**k!s} AS DECIMAL(18,14))"
        f" * LAG(x, {k}) OVER w AS DECIMAL(24,19)),"
        f" CAST(0 AS DECIMAL(24,19)))"
        for k in range(14)
    )
    den = " + ".join(
        f"CASE WHEN LAG(x, {k}) OVER w IS NOT NULL"
        f" THEN CAST({0.5**k!s} AS DECIMAL(18,14))"
        f" ELSE CAST(0 AS DECIMAL(18,14)) END"
        for k in range(14)
    )
    return f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) / COUNT(*)
              AS DECIMAL(18,6)) AS x
  FROM events GROUP BY 1, 2
), sm AS (
  SELECT event_type, day, x,
         CAST(({num}) AS DOUBLE) / CAST(({den}) AS DOUBLE) AS smoothed,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day DESC)
           AS rn
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, CAST(x AS DOUBLE) AS actual,
       round(smoothed, 6) AS smoothed
FROM sm WHERE rn <= 28 ORDER BY event_type, day
"""


def fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion statistics of daily event counts per type: the Fano
    factor var/mean (Fano 1947 — 1 for a Poisson process, >1 means
    overdispersion), the coefficient-of-variation burstiness B =
    (sigma - mu)/(sigma + mu) (Goh & Barabasi 2008, -1 regular .. +1
    bursty), and CV^2 — the standard traffic-shape triple a capacity
    planner reads before sizing for peaks. Integer daily counts give
    exact DECIMAL moments, so both engines agree bitwise.

    Scale shape: calendar-bounded daily rollup then a |types|-row
    moment agg — two shuffles of bounded frames."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    dc = F.col("c").cast("decimal(18,0)")
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("ss"),
    )
    n = F.col("n_days").cast("double")
    mu = F.col("s").cast("double") / n
    var = F.col("ss").cast("double") / n - mu * mu
    sd = F.sqrt(var)
    return agg.select(
        "event_type",
        "n_days",
        F.round(mu, 6).alias("mean_daily"),
        F.round(var / mu, 6).alias("fano"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
        F.round(var / (mu * mu), 6).alias("cv2"),
    ).orderBy("event_type")


FANO_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT event_type, COUNT(*) AS n_days,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS ss
  FROM daily GROUP BY 1
), m AS (
  SELECT event_type, n_days,
         CAST(s AS DOUBLE) / n_days AS mu,
         CAST(ss AS DOUBLE) / n_days
           - (CAST(s AS DOUBLE) / n_days) * (CAST(s AS DOUBLE) / n_days)
           AS var
  FROM agg
)
SELECT event_type, n_days, round(mu, 6) AS mean_daily,
       round(var / mu, 6) AS fano,
       round((sqrt(var) - mu) / (sqrt(var) + mu), 6) AS burstiness,
       round(var / (mu * mu), 6) AS cv2
FROM m ORDER BY event_type
"""


def pot_mean_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail read (Pickands 1975; Davison & Smith
    1990's mean-excess diagnostic) per event_type: the threshold u is
    the exact P90 of the value in integer cents (histogram-rank — the
    robust_source_stats discipline: smallest cent value whose
    cumulative count reaches ceil(0.9 n)), and the op emits the
    exceedance count, the mean excess E[X - u | X > u] (the GPD
    scale-vs-shape diagnostic an SRE reads before fitting a tail), and
    the max excess. Excesses are integers, so moments are DECIMAL
    exact.

    Scale shape: one (type, cents) histogram rollup (value-domain
    bounded), a cumulative window over that bounded frame for P90, a
    broadcast threshold join back, one rollup."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100).alias("vc")
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    thr = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(F.col("cum") - F.col("cnt") < F.ceil(0.9 * F.col("n")))
        .where(F.col("cum") >= F.ceil(0.9 * F.col("n")))
        .select("event_type", F.col("vc").alias("u"))
    )
    exc = (
        cents.join(F.broadcast(thr), "event_type")
        .where(F.col("vc") > F.col("u"))
        .select(
            "event_type",
            "u",
            (F.col("vc") - F.col("u")).cast("decimal(18,0)").alias("e"),
        )
    )
    return (
        exc.groupBy("event_type", "u")
        .agg(
            F.count(F.lit(1)).alias("n_exceed"),
            (F.sum("e").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("__me"),
            F.max("e").cast("long").alias("max_excess_cents"),
        )
        .select(
            "event_type",
            (F.col("u").cast("double") / 100.0).alias("threshold"),
            "n_exceed",
            F.round(F.col("__me") / 100.0, 6).alias("mean_excess"),
            "max_excess_cents",
        )
        .orderBy("event_type")
    )


POT_SQL = """
WITH cents AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS vc FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), thr AS (
  SELECT event_type, vc AS u
  FROM (
    SELECT event_type, vc, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
  )
  WHERE cum - cnt < CEIL(0.9 * n) AND cum >= CEIL(0.9 * n)
), exc AS (
  SELECT cents.event_type, u, CAST(vc - u AS DECIMAL(18,0)) AS e
  FROM cents JOIN thr ON cents.event_type = thr.event_type
  WHERE vc > u
)
SELECT event_type, CAST(u AS DOUBLE) / 100.0 AS threshold,
       COUNT(*) AS n_exceed,
       round(CAST(SUM(e) AS DOUBLE) / COUNT(*) / 100.0, 6) AS mean_excess,
       CAST(MAX(e) AS BIGINT) AS max_excess_cents
FROM exc GROUP BY event_type, u ORDER BY event_type
"""


def market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (Agrawal & Srikant
    1994 Apriori support/confidence framing; lift per Brin et al.
    1997): for every part PAIR co-purchased in one order, the support
    count, confidence P(b|a) and lift P(a,b)/(P(a)P(b)) — the classic
    basket screen, kept at pairs (2-itemsets). The support floor is
    SCALE-INVARIANT: pairs in >= max(2, 0.01% of orders) baskets.

    Scale shape: the pair generator self-joins DISTINCT (order, part)
    within each order — quadratic only in BASKET SIZE, which is a
    data-model invariant (~O(10) items/order at any corpus scale), so
    pair volume stays linear in orders. Item supports are a |parts|
    rollup — part SCALES with SF, so the joins back onto the kept
    pairs carry NO broadcast hint (r15 verdict: a hint there
    guarantees executor OOM at 100 TB; AQE broadcasts when the rollup
    is actually small). Only the 1-row order count broadcasts. Output
    is bounded by the support floor (the Apriori argument)."""
    li = _t(spark, sf_dir, "lineitem")
    # persisted (r16): ob feeds FOUR subtrees (self-join a/b + item ia/ib);
    # AQE's ReuseExchange dedups the identical a/b pair but the item
    # subtree differs by a pushed isnotnull Filter, so without the cache
    # lineitem scans + the distinct shuffle run 2x extra. (long, long)
    # rows, disk-spillable. Interleaved A/B at sf0.1: neutral on mins
    # (1.63 vs 1.71), med 1.99 -> 1.79 — kept for the 100 TB scan count.
    ob = scoped_persist(
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
    )
    n_orders = (
        _t(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    item = ob.groupBy("pk").agg(F.count(F.lit(1)).alias("item_cnt"))
    a = ob.select("ok", F.col("pk").alias("pa"))
    b = ob.select("ok", F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .crossJoin(F.broadcast(n_orders))
        .where(
            F.col("pair_cnt")
            >= F.greatest(F.lit(2), F.ceil(0.0001 * F.col("n_orders")))
        )
    )
    ia = item.select(F.col("pk").alias("pa"), F.col("item_cnt").alias("ca"))
    ib = item.select(F.col("pk").alias("pb"), F.col("item_cnt").alias("cb"))
    j = pairs.join(ia, "pa").join(ib, "pb")
    nn = F.col("n_orders").cast("double")
    lift = (
        F.col("pair_cnt").cast("double")
        * nn
        / (F.col("ca").cast("double") * F.col("cb").cast("double"))
    )
    return j.select(
        "pa",
        "pb",
        "pair_cnt",
        F.round(F.col("pair_cnt").cast("double") / nn, 6).alias("support"),
        F.round(
            F.col("pair_cnt").cast("double") / F.col("ca").cast("double"), 6
        ).alias("confidence"),
        F.round(lift, 4).alias("lift"),
    ).orderBy(F.desc("lift"), "pa", "pb")


MARKET_BASKET_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), n AS (
  SELECT COUNT(*) AS n_orders FROM orders
), item AS (
  SELECT pk, COUNT(*) AS item_cnt FROM ob GROUP BY 1
), pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS pair_cnt
  FROM ob a JOIN ob b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), kept AS (
  SELECT pa, pb, pair_cnt, n_orders
  FROM pairs, n
  WHERE pair_cnt >= GREATEST(2, CEIL(0.0001 * n_orders))
)
SELECT pa, pb, pair_cnt,
       round(CAST(pair_cnt AS DOUBLE) / n_orders, 6) AS support,
       round(CAST(pair_cnt AS DOUBLE) / ia.item_cnt, 6) AS confidence,
       round(CAST(pair_cnt AS DOUBLE) * n_orders
             / (CAST(ia.item_cnt AS DOUBLE) * ib.item_cnt), 4) AS lift
FROM kept
JOIN item ia ON kept.pa = ia.pk
JOIN item ib ON kept.pb = ib.pk
ORDER BY lift DESC, pa, pb
"""


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the clickstream path model of Sarukkai 2000, "Link
    prediction and path analysis using Markov chains"): P(next type |
    current type) with transition counts — what powers next-step
    prediction, funnel leak analysis, and removal-effect attribution.
    Sequences order by (ts, event_id) within user.

    Scale shape: ONE user-keyed window (users are many and small — the
    user_sessions discipline; no global sort), then a |types|^2-bounded
    rollup. Output is at most |types|^2 rows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
    )
    cnt = steps.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wfrom = Window.partitionBy("from_type")
    return (
        cnt.withColumn("from_total", F.sum("cnt").over(wfrom))
        .select(
            "from_type",
            "to_type",
            "cnt",
            F.round(
                F.col("cnt").cast("double")
                / F.col("from_total").cast("double"),
                6,
            ).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


MARKOV_SQL = """
WITH steps AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), cnt AS (
  SELECT from_type, to_type, COUNT(*) AS cnt
  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, cnt,
       round(CAST(cnt AS DOUBLE)
             / SUM(cnt) OVER (PARTITION BY from_type), 6) AS prob
FROM cnt ORDER BY from_type, to_type
"""


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (Hughes 1994's Recency/Frequency/Monetary
    scoring, the classic CRM customer split): per customer, recency =
    days since last order (vs the corpus max date), frequency = order
    count, monetary = lifetime spend; each scored into quintiles and
    rolled up to segment sizes with per-segment averages. Quintile
    assignment is VALUE-GROUP deterministic (all ties share a
    quintile: q = 1 + min(4, floor(5 * cum_below / n)) over the
    bounded value-group frame) — never NTILE, whose tie placement is
    row-order dependent. Recency scores reverse (recent = 5). Monetary
    buckets at whole-$100 granularity keep that domain bounded.

    Scale shape: one per-customer rollup, three bounded-domain
    value-group frames with cumulative windows (days / order-count /
    $100-bucket domains — all bounded), broadcast joins back, one
    <=125-group rollup."""
    od = _t(spark, sf_dir, "orders")
    mx = od.agg(F.max("o_orderdate").alias("mxd"))
    per = (
        od.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.datediff(F.col("mxd"), F.col("o_orderdate"))
            ).alias("rec"),
            F.count(F.lit(1)).alias("freq"),
            F.floor(
                F.sum(_dec(F.col("o_totalprice"))) / 100
            ).cast("long").alias("mon"),
        )
    )

    def quintile(df, col):
        grp = df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        tot = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return grp.select(
            col,
            (
                1
                + F.least(
                    F.lit(4),
                    F.floor(
                        5.0
                        * F.coalesce(F.sum("n").over(w), F.lit(0))
                        / F.sum("n").over(tot)
                    ),
                )
            ).cast("int").alias(f"q_{col}"),
        )

    scored = (
        per.join(F.broadcast(quintile(per, "rec")), "rec")
        .join(F.broadcast(quintile(per, "freq")), "freq")
        .join(F.broadcast(quintile(per, "mon")), "mon")
        .select(
            (6 - F.col("q_rec")).alias("r_score"),
            F.col("q_freq").alias("f_score"),
            F.col("q_mon").alias("m_score"),
            "rec",
            "freq",
            "mon",
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("rec").cast("decimal(18,0)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_recency_days"),
            F.round(
                F.sum(F.col("mon").cast("decimal(18,0)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_monetary_hundreds"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


RFM_SQL = """
WITH mx AS (
  SELECT MAX(o_orderdate) AS mxd FROM orders
), per AS (
  SELECT o_custkey,
         MIN(date_diff('day', o_orderdate, mxd)) AS rec,
         COUNT(*) AS freq,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) / 100)
              AS BIGINT) AS mon
  FROM orders, mx GROUP BY 1
), qr AS (
  SELECT rec, CAST(1 + LEAST(4, FLOOR(5.0 * cb / n)) AS INTEGER) AS q_rec
  FROM (SELECT rec,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY rec
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
               SUM(COUNT(*)) OVER () AS n
        FROM per GROUP BY rec)
), qf AS (
  SELECT freq, CAST(1 + LEAST(4, FLOOR(5.0 * cb / n)) AS INTEGER) AS q_freq
  FROM (SELECT freq,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY freq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
               SUM(COUNT(*)) OVER () AS n
        FROM per GROUP BY freq)
), qm AS (
  SELECT mon, CAST(1 + LEAST(4, FLOOR(5.0 * cb / n)) AS INTEGER) AS q_mon
  FROM (SELECT mon,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY mon
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
               SUM(COUNT(*)) OVER () AS n
        FROM per GROUP BY mon)
), scored AS (
  SELECT 6 - q_rec AS r_score, q_freq AS f_score, q_mon AS m_score,
         rec, mon
  FROM per JOIN qr USING (rec) JOIN qf USING (freq) JOIN qm USING (mon)
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       round(CAST(SUM(CAST(rec AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*), 4)
         AS avg_recency_days,
       round(CAST(SUM(CAST(mon AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*), 4)
         AS avg_monetary_hundreds
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO-style training (Rafailov
    et al. 2023, "Direct Preference Optimization"): within each
    (lang, length-bucket) prompt-proxy group, pair the highest- and
    lowest-quality document as (chosen, rejected) with the score
    margin — the standard way a curation pipeline mints preference
    data from scalar quality signals. The quality score is the
    deterministic whitespace-token mean word length (chars/token, the
    gopher-style signal); ties break by doc_id, encoded in the SAME
    two rank orders on both engines. Groups need >= 2 docs.

    Scale shape: one (lang, bucket)-keyed shuffle; the two rank
    windows partition by group (groups are many, each bounded); output
    is |groups| rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.token_count_ws(F.col("text"))
    base = docs.select(
        "lang",
        (F.floor(F.col("n_chars") / 200) * 200).alias("len_bucket"),
        "doc_id",
        F.round(
            F.col("n_chars").cast("double")
            / F.greatest(toks, F.lit(1)).cast("double"),
            6,
        ).alias("score"),
    )
    wg = Window.partitionBy("lang", "len_bucket")
    best = wg.orderBy(F.desc("score"), F.desc("doc_id"))
    worst = wg.orderBy(F.asc("score"), F.asc("doc_id"))
    ranked = base.select(
        "lang",
        "len_bucket",
        "doc_id",
        "score",
        F.row_number().over(best).alias("rb"),
        F.row_number().over(worst).alias("rw"),
        F.count(F.lit(1)).over(wg).alias("gn"),
    ).where(F.col("gn") >= 2)
    chosen = ranked.where(F.col("rb") == 1).select(
        "lang",
        "len_bucket",
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    rejected = ranked.where(F.col("rw") == 1).select(
        "lang",
        "len_bucket",
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        chosen.join(rejected, ["lang", "len_bucket"])
        .select(
            "lang",
            "len_bucket",
            "chosen_id",
            "rejected_id",
            F.round(
                F.col("chosen_score") - F.col("rejected_score"), 6
            ).alias("margin"),
        )
        .orderBy("lang", "len_bucket")
    )


DPO_PAIRS_SQL = r"""
WITH base AS (
  SELECT lang,
         CAST(FLOOR(n_chars / 200) * 200 AS BIGINT) AS len_bucket,
         doc_id,
         round(CAST(n_chars AS DOUBLE)
               / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END,
                    1), 6) AS score
  FROM documents
), ranked AS (
  SELECT lang, len_bucket, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY lang, len_bucket
                            ORDER BY score DESC, doc_id DESC) AS rb,
         ROW_NUMBER() OVER (PARTITION BY lang, len_bucket
                            ORDER BY score ASC, doc_id ASC) AS rw,
         COUNT(*) OVER (PARTITION BY lang, len_bucket) AS gn
  FROM base
), k AS (SELECT * FROM ranked WHERE gn >= 2)
SELECT c.lang, c.len_bucket, c.doc_id AS chosen_id,
       r.doc_id AS rejected_id,
       round(c.score - r.score, 6) AS margin
FROM (SELECT * FROM k WHERE rb = 1) c
JOIN (SELECT * FROM k WHERE rw = 1) r
  ON c.lang = r.lang AND c.len_bucket = r.len_bucket
ORDER BY c.lang, c.len_bucket
"""


def benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (Benjamini & Hochberg 1995) over
    the per-source mean-length drift family: each source's mean
    n_chars is z-tested against the global mean (decimal moments,
    exact), z maps to a two-sided p through the logistic normal-CDF
    approximation Phi(x) ~ 1/(1+exp(-0.07056 x^3 - 1.5976 x)) (Bowling
    et al. 2009 — algebraic, so both engines compute the identical
    double), and BH rejects the largest prefix of ascending p with
    p_(i) <= (i/m) q at q = 0.05 — the multiple-testing guard a
    monitoring suite needs once it runs one test per source.

    Scale shape: one source rollup + one global 1-row broadcast; the
    rank window runs over the |sources|-bounded p frame. The BH step
    count (max passing i) folds as a window max over that bounded
    frame."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum(dch).alias("ss"),
    )
    glob = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dch).alias("s"),
        F.sum((dch * dch).cast("decimal(38,0)")).alias("s2"),
    )
    j = per.crossJoin(F.broadcast(glob))
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sd = F.sqrt(F.col("s2").cast("double") / nd - mu * mu)
    z = (
        (F.col("ss").cast("double") / F.col("ns").cast("double") - mu)
        / (sd / F.sqrt(F.col("ns").cast("double")))
    )
    az = F.abs(z)
    phi = 1.0 / (
        1.0 + F.exp(-(0.07056 * az * az * az + 1.5976 * az))
    )
    pv = j.select(
        "source",
        "ns",
        F.round(z, 4).alias("z"),
        (2.0 * (1.0 - phi)).alias("p"),
    )
    m = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pv.withColumn(
        "i", F.row_number().over(Window.orderBy("p", "source"))
    ).withColumn("m", F.count(F.lit(1)).over(m))
    passing = ranked.withColumn(
        "pass_i",
        F.when(
            F.col("p") <= 0.05 * F.col("i") / F.col("m"), F.col("i")
        ).otherwise(F.lit(0)),
    ).withColumn("max_pass", F.max("pass_i").over(m))
    return passing.select(
        "source",
        "ns",
        "z",
        F.round("p", 6).alias("p_value"),
        F.round(0.05 * F.col("i") / F.col("m"), 6).alias("bh_threshold"),
        (F.col("i") <= F.col("max_pass")).alias("rejected"),
    ).orderBy("source")


BH_FDR_SQL = """
WITH per AS (
  SELECT source, COUNT(*) AS ns,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS ss
  FROM documents GROUP BY 1
), gtot AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s2
  FROM documents
), zf AS (
  SELECT source, ns,
         (CAST(ss AS DOUBLE) / ns - CAST(s AS DOUBLE) / n)
         / (sqrt(CAST(s2 AS DOUBLE) / n
                 - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
            / sqrt(CAST(ns AS DOUBLE))) AS z
  FROM per, gtot
), pv AS (
  SELECT source, ns, round(z, 4) AS z,
         2.0 * (1.0 - 1.0 / (1.0 + exp(-(0.07056 * ABS(z) * ABS(z) * ABS(z)
                                         + 1.5976 * ABS(z))))) AS p
  FROM zf
), ranked AS (
  SELECT source, ns, z, p,
         ROW_NUMBER() OVER (ORDER BY p, source) AS i,
         COUNT(*) OVER () AS m
  FROM pv
), passing AS (
  SELECT *,
         MAX(CASE WHEN p <= 0.05 * i / m THEN i ELSE 0 END) OVER ()
           AS max_pass
  FROM ranked
)
SELECT source, ns, z, round(p, 6) AS p_value,
       round(0.05 * i / m, 6) AS bh_threshold,
       i <= max_pass AS rejected
FROM passing ORDER BY source
"""


def wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth mover's) drift distance (Ramdas, Garcia &
    Cuturi 2017's univariate form: the L1 distance between CDFs) per
    event_type between the first- and second-half value distributions
    — the drift metric that, unlike KS, weighs HOW FAR mass moved, not
    just the worst gap. 1000-bin quantized (the ks_drift discipline);
    halves split at the time midpoint (the cuped convention).

    Scale shape: one (type, bin, half) rollup bounded by 1000 bins x 2,
    cumulative windows over that bounded frame, and the cross-bin sum
    runs over INTEGER cross-multiplied counts (|cumA*Nb - cumB*Na| in
    DECIMAL), so no float-order ambiguity — the single double division
    happens once per type. Each occupied bin's |CDF gap| is weighted
    by its SPAN to the next occupied bin (lead(bin)-bin; the last bin
    spans to 1000): between occupied bins both CDFs hold constant, so
    empty interior bins contribute the constant gap times their width
    — without the span weight W1 is understated whenever the support
    has gaps (r15 ADVICE). The span product stays integer-exact:
    |gap| <= na*nb fits DECIMAL(33,0), span <= 1000 fits DECIMAL(5,0),
    product width 38 on both engines."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(
            F.lit(999),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 1000.0
            ),
        ).alias("bin"),
        (
            F.col("ts").cast("long") * 2 <= F.col("t0") + F.col("t1")
        ).alias("first_half"),
        ((F.col("vmax") - F.col("vmin")) / 1000.0).alias("binw"),
    )
    per = binned.groupBy("event_type", "bin", "binw").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    wnext = Window.partitionBy("event_type").orderBy("bin")
    cum = per.select(
        "event_type",
        "binw",
        (
            F.coalesce(F.lead("bin").over(wnext), F.lit(1000))
            - F.col("bin")
        ).alias("span"),
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    term = F.abs(
        (
            F.col("cuma").cast("decimal(19,0)")
            * F.col("nb").cast("decimal(19,0)")
            - F.col("cumb").cast("decimal(19,0)")
            * F.col("na").cast("decimal(19,0)")
        ).cast("decimal(38,0)")
    ).cast("decimal(33,0)") * F.col("span").cast("decimal(5,0)")
    agg = cum.groupBy("event_type", "binw", "na", "nb").agg(
        F.sum(term).alias("s")
    )
    w1 = (
        F.col("s").cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
        * F.col("binw")
    )
    return agg.select(
        "event_type",
        F.col("na").alias("n_first"),
        F.col("nb").alias("n_second"),
        F.round(w1, 6).alias("w1_distance"),
    ).orderBy("event_type")


WASSERSTEIN_SQL = """
WITH bounds AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
         epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1
  FROM events
), binned AS (
  SELECT event_type,
         LEAST(999, CAST(FLOOR((value - vmin) / (vmax - vmin) * 1000.0)
                         AS BIGINT)) AS bin,
         epoch(ts) * 2 <= t0 + t1 AS first_half,
         (vmax - vmin) / 1000.0 AS binw
  FROM events, bounds
), per AS (
  SELECT event_type, bin, binw,
         CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM binned GROUP BY 1, 2, 3
), cum AS (
  SELECT event_type, binw,
         COALESCE(LEAD(bin) OVER (PARTITION BY event_type ORDER BY bin),
                  1000) - bin AS span,
         SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM per
  WINDOW w AS (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT event_type, binw, na, nb,
         SUM(CAST(ABS(CAST(CAST(cuma AS DECIMAL(19,0))
                             * CAST(nb AS DECIMAL(19,0))
                           - CAST(cumb AS DECIMAL(19,0))
                             * CAST(na AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS DECIMAL(33,0))
             * CAST(span AS DECIMAL(5,0))) AS s
  FROM cum GROUP BY 1, 2, 3, 4
)
SELECT event_type, CAST(na AS BIGINT) AS n_first,
       CAST(nb AS BIGINT) AS n_second,
       round(CAST(s AS DOUBLE) / (CAST(na AS DOUBLE) * nb) * binw, 6)
         AS w1_distance
FROM agg ORDER BY event_type
"""


def trimmed_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed and winsorized location estimates (Tukey & McLaughlin
    1963) of document length per source: the 10%-trimmed mean (drop
    the g = floor(0.1 n) smallest and largest) and the winsorized mean
    (clamp those tails to the cut values) — the outlier-robust pair a
    corpus report quotes next to the raw mean. EXACT via the
    histogram-rank discipline: per value group, the kept multiplicity
    is the overlap of its rank span [cum-cnt+1, cum] with the window
    [g+1, n-g]; the cut values are the groups holding ranks g+1 and
    n-g. Integer value sums run in DECIMAL.

    Scale shape: one (source, n_chars) histogram rollup (bounded value
    domain), cumulative windows over that bounded frame, one rollup —
    no per-row sort."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("source").orderBy("n_chars")
    wall = Window.partitionBy("source")
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("g", F.floor(0.1 * F.col("n")).cast("long"))
    )
    lo_r = F.col("g") + 1
    hi_r = F.col("n") - F.col("g")
    kept = F.greatest(
        F.lit(0),
        F.least(F.col("cum"), hi_r)
        - F.greatest(F.col("cum") - F.col("cnt"), lo_r - 1),
    )
    dv = F.col("n_chars").cast("decimal(18,0)")
    stats = cum.groupBy("source").agg(
        F.max("n").alias("n"),
        F.max("g").alias("g"),
        F.sum((dv * kept.cast("decimal(18,0)")).cast("decimal(38,0)")).alias(
            "tsum"
        ),
        F.max(
            F.when(
                (F.col("cum") >= lo_r) & (F.col("cum") - F.col("cnt") < lo_r),
                F.col("n_chars"),
            )
        ).alias("lo_val"),
        F.max(
            F.when(
                (F.col("cum") >= hi_r) & (F.col("cum") - F.col("cnt") < hi_r),
                F.col("n_chars"),
            )
        ).alias("hi_val"),
    )
    nd = (F.col("n") - 2 * F.col("g")).cast("double")
    tmean = F.col("tsum").cast("double") / nd
    wsum = (
        F.col("tsum").cast("double")
        + F.col("g").cast("double")
        * (F.col("lo_val") + F.col("hi_val")).cast("double")
    )
    return stats.select(
        "source",
        "n",
        F.col("g").alias("n_trimmed_each_side"),
        F.round(tmean, 6).alias("trimmed_mean"),
        F.round(wsum / F.col("n").cast("double"), 6).alias("winsorized_mean"),
        F.col("lo_val").alias("lo_cut"),
        F.col("hi_val").alias("hi_cut"),
    ).orderBy("source")


TRIMMED_SQL = """
WITH hist AS (
  SELECT source, n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
), cum AS (
  SELECT source, n_chars, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
         SUM(cnt) OVER (PARTITION BY source) AS n
  FROM hist
), k AS (
  SELECT *, CAST(FLOOR(0.1 * n) AS BIGINT) AS g,
         GREATEST(0, LEAST(cum, n - CAST(FLOOR(0.1 * n) AS BIGINT))
                     - GREATEST(cum - cnt,
                                CAST(FLOOR(0.1 * n) AS BIGINT))) AS kept
  FROM cum
), stats AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(g) AS BIGINT) AS g,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(kept AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS tsum,
         MAX(CASE WHEN cum >= g + 1 AND cum - cnt < g + 1
                  THEN n_chars END) AS lo_val,
         MAX(CASE WHEN cum >= n - g AND cum - cnt < n - g
                  THEN n_chars END) AS hi_val
  FROM k GROUP BY 1
)
SELECT source, n, g AS n_trimmed_each_side,
       round(CAST(tsum AS DOUBLE) / (n - 2 * g), 6) AS trimmed_mean,
       round((CAST(tsum AS DOUBLE)
              + CAST(g AS DOUBLE) * (lo_val + hi_val)) / n, 6)
         AS winsorized_mean,
       lo_val AS lo_cut, hi_val AS hi_cut
FROM stats ORDER BY source
"""


def cohens_d_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size per event_type between the A/B arms
    (Cohen 1988's d with pooled SD; Hedges 1981's small-sample
    correction J = 1 - 3/(4 df - 1)) over values in integer cents —
    the magnitude read that accompanies any significance test, because
    with big n everything is 'significant'. Arms are the user_id
    parity (the cuped convention). Moments run in DECIMAL, so d is one
    deterministic double expression.

    Scale shape: one (type, arm) rollup, then scalar assembly per
    type. Output |types| rows."""
    ev = _t(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("decimal(18,0)")
    per = ev.groupBy(
        "event_type", (F.col("user_id") % 2 == 1).alias("treated")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("s2"),
    )
    t = per.where(F.col("treated")).select(
        "event_type",
        F.col("n").alias("nt"),
        F.col("s").alias("st"),
        F.col("s2").alias("s2t"),
    )
    c = per.where(~F.col("treated")).select(
        "event_type",
        F.col("n").alias("nc"),
        F.col("s").alias("sc"),
        F.col("s2").alias("s2c"),
    )
    j = t.join(c, "event_type")
    ntd = F.col("nt").cast("double")
    ncd = F.col("nc").cast("double")
    mt = F.col("st").cast("double") / ntd
    mc = F.col("sc").cast("double") / ncd
    sst = F.col("s2t").cast("double") - ntd * mt * mt
    ssc = F.col("s2c").cast("double") - ncd * mc * mc
    sp = F.sqrt((sst + ssc) / (ntd + ncd - 2.0))
    d = (mt - mc) / sp
    jcorr = 1.0 - 3.0 / (4.0 * (ntd + ncd - 2.0) - 1.0)
    return j.select(
        "event_type",
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * jcorr, 6).alias("hedges_g"),
        F.when(F.abs(d) < 0.2, "negligible")
        .when(F.abs(d) < 0.5, "small")
        .when(F.abs(d) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    ).orderBy("event_type")


COHENS_D_SQL = """
WITH per AS (
  SELECT event_type, user_id % 2 = 1 AS treated, COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  * CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM events GROUP BY 1, 2
), j AS (
  SELECT t.event_type, t.n AS nt, c.n AS nc,
         CAST(t.s AS DOUBLE) / t.n AS mt, CAST(c.s AS DOUBLE) / c.n AS mc,
         CAST(t.s2 AS DOUBLE) - t.n * (CAST(t.s AS DOUBLE) / t.n)
           * (CAST(t.s AS DOUBLE) / t.n) AS sst,
         CAST(c.s2 AS DOUBLE) - c.n * (CAST(c.s AS DOUBLE) / c.n)
           * (CAST(c.s AS DOUBLE) / c.n) AS ssc
  FROM (SELECT * FROM per WHERE treated) t
  JOIN (SELECT * FROM per WHERE NOT treated) c
    ON t.event_type = c.event_type
), d AS (
  SELECT event_type, nt, nc,
         (mt - mc) / sqrt((sst + ssc) / (nt + nc - 2.0)) AS d,
         1.0 - 3.0 / (4.0 * (nt + nc - 2.0) - 1.0) AS jc
  FROM j
)
SELECT event_type, nt AS n_treated, nc AS n_control,
       round(d, 6) AS cohens_d, round(d * jc, 6) AS hedges_g,
       CASE WHEN ABS(d) < 0.2 THEN 'negligible'
            WHEN ABS(d) < 0.5 THEN 'small'
            WHEN ABS(d) < 0.8 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d ORDER BY event_type
"""


def cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified association test (Mantel &
    Haenszel 1959; Cochran 1954): does the treated arm exceed each
    event type's own median value more often than control, pooled
    ACROSS types as strata — the confounder-guarded 2x2 readout
    (Simpson's-paradox-proof where a naive pooled table is not). Per
    stratum: exposure = user parity, outcome = value above the
    stratum's exact cents median (histogram-rank). Emits per-stratum
    2x2 counts and odds ratios plus the pooled MH odds ratio and CMH
    chi-square (continuity-corrected) repeated on each row.

    Scale shape: one cents-histogram per type (bounded domain) for the
    medians, one (type, arm, outcome) rollup, then |types|-row scalar
    assembly with the pooled terms in a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("treated"),
        F.floor(F.col("value") * 100).alias("vc"),
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(F.col("cum") - F.col("cnt") < F.ceil(F.col("n") / 2))
        .where(F.col("cum") >= F.ceil(F.col("n") / 2))
        .select("event_type", F.col("vc").alias("med"))
    )
    cells = (
        cents.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("treated") & (F.col("vc") > F.col("med")), 1)
                .otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(F.col("treated") & (F.col("vc") <= F.col("med")), 1)
                .otherwise(0)
            ).alias("b"),
            F.sum(
                F.when(~F.col("treated") & (F.col("vc") > F.col("med")), 1)
                .otherwise(0)
            ).alias("c"),
            F.sum(
                F.when(~F.col("treated") & (F.col("vc") <= F.col("med")), 1)
                .otherwise(0)
            ).alias("d"),
        )
    )
    nk = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    ad, bd, cd, dd = (
        F.col("a").cast("double"),
        F.col("b").cast("double"),
        F.col("c").cast("double"),
        F.col("d").cast("double"),
    )
    terms = cells.select(
        "event_type",
        "a",
        "b",
        "c",
        "d",
        (ad - (ad + bd) * (ad + cd) / nk).alias("amE"),
        (
            (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)
            / (nk * nk * (nk - 1.0))
        ).alias("vk"),
        (ad * dd / nk).alias("rk"),
        (bd * cd / nk).alias("sk"),
    )
    pooled = terms.agg(
        F.sum("amE").alias("sum_ame"),
        F.sum("vk").alias("sum_v"),
        F.sum("rk").alias("sum_r"),
        F.sum("sk").alias("sum_s"),
    )
    chi2 = (
        (F.abs(F.col("sum_ame")) - 0.5)
        * (F.abs(F.col("sum_ame")) - 0.5)
        / F.col("sum_v")
    )
    return (
        terms.crossJoin(F.broadcast(pooled))
        .select(
            "event_type",
            "a",
            "b",
            "c",
            "d",
            F.round(
                ad * dd / (bd * cd),
                4,
            ).alias("stratum_or"),
            F.round(F.col("sum_r") / F.col("sum_s"), 4).alias("mh_or"),
            F.round(chi2, 4).alias("cmh_chi2"),
        )
        .orderBy("event_type")
    )


CMH_SQL = """
WITH cents AS (
  SELECT event_type, user_id % 2 = 1 AS treated,
         CAST(FLOOR(value * 100) AS BIGINT) AS vc
  FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), med AS (
  SELECT event_type, vc AS med
  FROM (
    SELECT event_type, vc, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
  )
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), cells AS (
  SELECT cents.event_type,
         CAST(SUM(CASE WHEN treated AND vc > med THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN treated AND vc <= med THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN NOT treated AND vc > med THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN NOT treated AND vc <= med THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM cents JOIN med ON cents.event_type = med.event_type
  GROUP BY 1
), terms AS (
  SELECT event_type, a, b, c, d,
         CAST(a + b + c + d AS DOUBLE) AS nk,
         a - CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d) AS ame,
         CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
           / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)
              * (a + b + c + d - 1.0)) AS vk,
         CAST(a AS DOUBLE) * d / (a + b + c + d) AS rk,
         CAST(b AS DOUBLE) * c / (a + b + c + d) AS sk
  FROM cells
), pooled AS (
  SELECT SUM(ame) AS sum_ame, SUM(vk) AS sum_v,
         SUM(rk) AS sum_r, SUM(sk) AS sum_s
  FROM terms
)
SELECT event_type, a, b, c, d,
       round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 4)
         AS stratum_or,
       round(sum_r / sum_s, 4) AS mh_or,
       round((ABS(sum_ame) - 0.5) * (ABS(sum_ame) - 0.5) / sum_v, 4)
         AS cmh_chi2
FROM terms, pooled ORDER BY event_type
"""


def theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index (Theil 1967) of corpus mass across
    sources, with its between/within additive decomposition collapsed
    to the source level: T = sum_s (x_s/X) ln((x_s/X)/(1/m)) over
    char-mass shares — 0 when sources contribute equally, ln(m) at
    maximal concentration. The corpus-balance read that complements
    language_balance_gini with a decomposable measure. Also emits each
    source's share and its term contribution.

    Scale shape: one source rollup (decimal char sums) + a 1-row total
    broadcast; output |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(F.sum(dch).alias("xs"))
    tot = per.agg(
        F.sum("xs").alias("x"), F.count(F.lit(1)).alias("m")
    )
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("xs").cast("double") / F.col("x").cast("double")
    term = share * F.log(share * F.col("m").cast("double"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        j.select(
            "source",
            F.round(share, 6).alias("share"),
            F.round(term, 6).alias("theil_term"),
            F.round(F.sum(term).over(wall), 6).alias("theil_t"),
            F.round(
                F.log(F.col("m").cast("double")), 6
            ).alias("max_theil"),
        )
        .orderBy("source")
    )


THEIL_SQL = """
WITH per AS (
  SELECT source, SUM(CAST(n_chars AS DECIMAL(18,0))) AS xs
  FROM documents GROUP BY 1
), tot AS (
  SELECT SUM(xs) AS x, COUNT(*) AS m FROM per
), s AS (
  SELECT source, CAST(xs AS DOUBLE) / CAST(x AS DOUBLE) AS share, m
  FROM per, tot
)
SELECT source, round(share, 6) AS share,
       round(share * ln(share * m), 6) AS theil_term,
       round(SUM(share * ln(share * m)) OVER (), 6) AS theil_t,
       round(ln(CAST(m AS DOUBLE)), 6) AS max_theil
FROM s ORDER BY source
"""


def cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened-exact-matching treatment effect (Iacus, King & Porro
    2012): users match EXACTLY on their activity stratum (total event
    count), strata missing either arm drop (the CEM prune), and the
    ATT is the treated-weighted mean of per-stratum outcome gaps —
    purchase count as the outcome, user parity as the arm. The
    confounder here is mechanical: heavier users have more purchases,
    so the naive arm gap is activity-confounded; CEM removes it
    exactly.

    Scale shape: one per-user rollup, one (stratum, arm) rollup over
    the bounded activity domain, scalar pooling via a 1-row broadcast.
    Output is |kept strata| rows (pooled ATT repeated per row, the
    cmh_test convention)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("stratum"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    ).select(
        (F.col("user_id") % 2 == 1).alias("treated"), "stratum", "y"
    )
    cell = per_user.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(18,0)")).alias("sy"),
    )
    t = cell.where(F.col("treated")).select(
        "stratum", F.col("n").alias("nt"), F.col("sy").alias("syt")
    )
    c = cell.where(~F.col("treated")).select(
        "stratum", F.col("n").alias("nc"), F.col("sy").alias("syc")
    )
    kept = t.join(c, "stratum")
    gap = (
        F.col("syt").cast("double") / F.col("nt").cast("double")
        - F.col("syc").cast("double") / F.col("nc").cast("double")
    )
    wsum = kept.agg(
        F.sum("nt").alias("tot_t"),
        F.sum(F.col("nt").cast("double") * gap).alias("wgap"),
    )
    att = F.col("wgap") / F.col("tot_t").cast("double")
    return (
        kept.crossJoin(F.broadcast(wsum))
        .select(
            "stratum",
            "nt",
            "nc",
            F.round(gap, 6).alias("stratum_gap"),
            F.round(att, 6).alias("pooled_att"),
        )
        .orderBy("stratum")
    )


CEM_ATT_SQL = """
WITH per_user AS (
  SELECT user_id % 2 = 1 AS treated, COUNT(*) AS stratum,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
), cell AS (
  SELECT stratum, treated, COUNT(*) AS n,
         SUM(CAST(y AS DECIMAL(18,0))) AS sy
  FROM per_user GROUP BY 1, 2
), kept AS (
  SELECT t.stratum, t.n AS nt, c.n AS nc,
         CAST(t.sy AS DOUBLE) / t.n - CAST(c.sy AS DOUBLE) / c.n AS gap
  FROM (SELECT * FROM cell WHERE treated) t
  JOIN (SELECT * FROM cell WHERE NOT treated) c ON t.stratum = c.stratum
), pool AS (
  SELECT CAST(SUM(nt) AS BIGINT) AS tot_t, SUM(nt * gap) AS wgap FROM kept
)
SELECT stratum, nt, nc, round(gap, 6) AS stratum_gap,
       round(wgap / tot_t, 6) AS pooled_att
FROM kept, pool ORDER BY stratum
"""


def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (the Card & Krueger 1994 two-period
    two-group design): outcome = user-period mean value in cents, arms
    = user parity, periods split at the time midpoint. Emits the four
    cell means, the DiD point estimate (gap-in-gaps), and its
    large-sample SE from the four cell variances — the workhorse
    quasi-experimental readout when randomization wasn't available.
    Cell moments run in DECIMAL cents, so the estimate is one
    deterministic double expression.

    Scale shape: one per-(user, period) rollup, one 4-cell rollup,
    then pure scalar assembly. Output is 4 rows (cells) with the
    pooled estimate repeated (the cmh_test convention)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            (F.col("user_id") % 2 == 1).alias("treated"),
            (
                F.col("ts").cast("long") * 2 > F.col("t0") + F.col("t1")
            ).alias("post"),
            "user_id",
        )
        .agg(
            (
                F.sum(F.floor(F.col("value") * 100).cast("decimal(18,0)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("y")
        )
    )
    cells = per.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    # explicit 4-cell assembly (no pivot — keeps both engines identical)
    tt = cells.where(F.col("treated") & F.col("post")).select(
        F.col("m").alias("m_tp"), (F.col("v") / F.col("n")).alias("se_tp")
    )
    tb = cells.where(F.col("treated") & ~F.col("post")).select(
        F.col("m").alias("m_tb"), (F.col("v") / F.col("n")).alias("se_tb")
    )
    ct = cells.where(~F.col("treated") & F.col("post")).select(
        F.col("m").alias("m_cp"), (F.col("v") / F.col("n")).alias("se_cp")
    )
    cb = cells.where(~F.col("treated") & ~F.col("post")).select(
        F.col("m").alias("m_cb"), (F.col("v") / F.col("n")).alias("se_cb")
    )
    pooled = (
        tt.crossJoin(tb).crossJoin(ct).crossJoin(cb).select(
            (
                (F.col("m_tp") - F.col("m_tb"))
                - (F.col("m_cp") - F.col("m_cb"))
            ).alias("did"),
            F.sqrt(
                F.col("se_tp")
                + F.col("se_tb")
                + F.col("se_cp")
                + F.col("se_cb")
            ).alias("se"),
        )
    )
    return (
        cells.crossJoin(F.broadcast(pooled))
        .select(
            "treated",
            "post",
            "n",
            F.round("m", 6).alias("cell_mean_cents"),
            F.round("did", 6).alias("did_estimate"),
            F.round("se", 6).alias("did_se"),
            F.round(F.col("did") / F.col("se"), 4).alias("did_t"),
        )
        .orderBy("treated", "post")
    )


DID_SQL = """
WITH bounds AS (
  SELECT epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1 FROM events
), per AS (
  SELECT user_id % 2 = 1 AS treated,
         epoch(ts) * 2 > t0 + t1 AS post, user_id,
         CAST(SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS DOUBLE)
           / COUNT(*) AS y
  FROM events, bounds GROUP BY 1, 2, 3
), cells AS (
  SELECT treated, post, COUNT(*) AS n, AVG(y) AS m, var_samp(y) AS v
  FROM per GROUP BY 1, 2
), pooled AS (
  SELECT ((SELECT m FROM cells WHERE treated AND post)
          - (SELECT m FROM cells WHERE treated AND NOT post))
         - ((SELECT m FROM cells WHERE NOT treated AND post)
            - (SELECT m FROM cells WHERE NOT treated AND NOT post)) AS did,
         sqrt((SELECT v / n FROM cells WHERE treated AND post)
              + (SELECT v / n FROM cells WHERE treated AND NOT post)
              + (SELECT v / n FROM cells WHERE NOT treated AND post)
              + (SELECT v / n FROM cells WHERE NOT treated AND NOT post))
           AS se
)
SELECT treated, post, n, round(m, 6) AS cell_mean_cents,
       round(did, 6) AS did_estimate, round(se, 6) AS did_se,
       round(did / se, 4) AS did_t
FROM cells, pooled ORDER BY treated, post
"""


def sprt_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test readout (Wald 1945):
    per event_type, the cumulative Bernoulli log-likelihood ratio for
    H1: P(value > global median) = 0.55 vs H0: 0.5, walked day by day
    with the alpha = beta = 0.05 boundaries +-ln(19) — when COULD this
    monitor have stopped, and which way? The global median is exact
    over integer cents (histogram-rank). LLR_T = K ln(p1/p0) + (N - K)
    ln(q1/q0) with integer (K, N) per prefix, so every day's statistic
    is an exact-integer combination of two double constants —
    deterministic cross-engine.

    Scale shape: one global cents histogram (bounded domain) for the
    median, a calendar-bounded daily rollup, cumulative windows over
    |days|, and a first-crossing pick via one more bounded window."""
    ev = _t(spark, sf_dir, "events")
    import math

    cents = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.floor(F.col("value") * 100).alias("vc"),
    )
    hist = cents.groupBy("vc").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("vc")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(F.col("cum") - F.col("cnt") < F.ceil(F.col("n") / 2))
        .where(F.col("cum") >= F.ceil(F.col("n") / 2))
        .select(F.col("vc").alias("med"))
    )
    l1 = math.log(0.55 / 0.5)
    l0 = math.log(0.45 / 0.5)
    bound = math.log(19.0)
    daily = (
        cents.crossJoin(F.broadcast(med))
        .groupBy("event_type", "day")
        .agg(
            F.sum(F.when(F.col("vc") > F.col("med"), 1).otherwise(0)).alias(
                "k"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    llr = daily.select(
        "event_type",
        "day",
        (
            F.sum("k").over(wd).cast("double") * F.lit(l1)
            + (F.sum("n").over(wd) - F.sum("k").over(wd)).cast("double")
            * F.lit(l0)
        ).alias("llr"),
    )
    crossed = llr.withColumn(
        "decision",
        F.when(F.col("llr") >= bound, "accept_h1")
        .when(F.col("llr") <= -bound, "accept_h0")
        .otherwise(None),
    )
    first = (
        crossed.where(F.col("decision").isNotNull())
        .groupBy("event_type")
        .agg(F.min(F.struct("day", "decision", "llr")).alias("f"))
        .select(
            "event_type",
            F.col("f.day").alias("decision_day"),
            F.col("f.decision").alias("decision"),
            F.round(F.col("f.llr"), 6).alias("llr_at_decision"),
        )
    )
    final = llr.groupBy("event_type").agg(
        F.max(F.struct("day", "llr")).alias("l")
    ).select("event_type", F.round(F.col("l.llr"), 6).alias("final_llr"))
    return (
        final.join(first, "event_type", "left")
        .select(
            "event_type",
            "final_llr",
            F.coalesce("decision", F.lit("continue")).alias("decision"),
            "decision_day",
            "llr_at_decision",
        )
        .orderBy("event_type")
    )


def _sprt_sql() -> str:
    import math

    l1 = repr(math.log(0.55 / 0.5))
    l0 = repr(math.log(0.45 / 0.5))
    bound = repr(math.log(19.0))
    return f"""
WITH cents AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(FLOOR(value * 100) AS BIGINT) AS vc
  FROM events
), hist AS (
  SELECT vc, COUNT(*) AS cnt FROM cents GROUP BY 1
), med AS (
  SELECT vc AS med
  FROM (SELECT vc, cnt, SUM(cnt) OVER (ORDER BY vc) AS cum,
               SUM(cnt) OVER () AS n
        FROM hist)
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), daily AS (
  SELECT event_type, day,
         CAST(SUM(CASE WHEN vc > med THEN 1 ELSE 0 END) AS BIGINT) AS k,
         COUNT(*) AS n
  FROM cents, med GROUP BY 1, 2
), llr AS (
  SELECT event_type, day,
         CAST(SUM(k) OVER w AS DOUBLE) * {l1}
           + CAST(SUM(n) OVER w - SUM(k) OVER w AS DOUBLE) * {l0} AS llr
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), crossed AS (
  SELECT event_type, day, llr,
         CASE WHEN llr >= {bound} THEN 'accept_h1'
              WHEN llr <= -{bound} THEN 'accept_h0' END AS decision
  FROM llr
), first AS (
  SELECT event_type, day AS decision_day, decision,
         round(llr, 6) AS llr_at_decision
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS rn
        FROM crossed WHERE decision IS NOT NULL)
  WHERE rn = 1
), final AS (
  SELECT event_type, round(llr, 6) AS final_llr
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day DESC) AS rn
        FROM llr)
  WHERE rn = 1
)
SELECT final.event_type, final_llr,
       COALESCE(decision, 'continue') AS decision,
       decision_day, llr_at_decision
FROM final LEFT JOIN first ON final.event_type = first.event_type
ORDER BY final.event_type
"""


def jackknife_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence (Quenouille 1956 / Tukey 1958
    jackknife, the honest closed-form cousin of influence functions):
    how much does dropping each entire source shift the corpus mean
    document length? delta_s = S-minus-s mean - overall mean, exactly
    computable from per-source aggregates — the first-cut answer to
    "which source is dragging my length distribution", before anything
    model-based. Decimal sums make each delta one deterministic double.

    Scale shape: one source rollup + a 1-row total broadcast; output
    |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("ns"), F.sum(dch).alias("ss")
    )
    tot = per.agg(F.sum("ns").alias("n"), F.sum("ss").alias("s"))
    j = per.crossJoin(F.broadcast(tot))
    mean_all = F.col("s").cast("double") / F.col("n").cast("double")
    mean_wo = (
        (F.col("s") - F.col("ss")).cast("double")
        / (F.col("n") - F.col("ns")).cast("double")
    )
    return j.select(
        "source",
        "ns",
        F.round(mean_all, 6).alias("mean_all"),
        F.round(mean_wo, 6).alias("mean_without"),
        F.round(mean_wo - mean_all, 6).alias("influence"),
    ).orderBy("source")


JACKKNIFE_SQL = """
WITH per AS (
  SELECT source, COUNT(*) AS ns,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS ss
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ns) AS BIGINT) AS n, SUM(ss) AS s FROM per
)
SELECT source, ns,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_all,
       round(CAST(s - ss AS DOUBLE) / (n - ns), 6) AS mean_without,
       round(CAST(s - ss AS DOUBLE) / (n - ns)
             - CAST(s AS DOUBLE) / n, 6) AS influence
FROM per, tot ORDER BY source
"""


def _daily_counts_dense(ev: DataFrame) -> DataFrame:
    """Per-type daily event counts left-joined onto each type's DENSE
    calendar (sequence between its min and max day; missing days count
    0) — so a lag-k column means k CALENDAR days, not k observed rows
    (r15 ADVICE on ljung_box/acf_daily/lead_lag_corr: a date with zero
    events must not shift the lag-7/14 weekly alignment). The calendar
    frame is |types| x |days| — bounded."""
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    cal = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("day"),
        )
    )
    return cal.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )


# DuckDB twin of _daily_counts_dense: CTE chain ending in `daily`.
_DENSE_DAILY_SQL = """daily0 AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), span_ AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily0 GROUP BY 1
), cal AS (
  SELECT event_type,
         UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span_
), daily AS (
  SELECT cal.event_type, cal.day, COALESCE(daily0.c, 0) AS c
  FROM cal LEFT JOIN daily0
    ON cal.event_type = daily0.event_type AND cal.day = daily0.day
)"""


def acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily event counts (Box & Jenkins
    1970) per event_type at lags 1, 2, 3, 7 and 14 — the weekly-cycle
    / momentum read behind seasonal_decompose's fixed weekly model:
    r_k = sum_t (x_t - xbar)(x_{t+k} - xbar) / sum_t (x_t - xbar)^2,
    expanded so every sum is an EXACT integer (sum x_t x_{t+k}, head
    and tail sums via LEAD over the calendar-bounded daily frame) and
    xbar enters once as a rational — one deterministic double per
    (type, lag).

    Scale shape: daily rollup bounds everything by the calendar; the
    five lags are LEAD columns over the |days| window (DENSE calendar
    — zero-event days count 0, so lag k is k calendar days); one
    rollup. The daily frame persists and the five per-lag reads come
    from ONE explode over lag structs (r16: the former 5-branch union
    planned the events rollup five times, guide §2.4)."""
    ev = _t(spark, sf_dir, "events")
    daily = scoped_persist(_daily_counts_dense(ev))
    wd = Window.partitionBy("event_type").orderBy("day")
    lags = [1, 2, 3, 7, 14]
    cols = [F.lead("c", k).over(wd).alias(f"l{k}") for k in lags]
    wide = daily.select("event_type", "c", *cols)
    dc = F.col("c").cast("decimal(18,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    ]
    for k in lags:
        lk = F.col(f"l{k}").cast("decimal(18,0)")
        aggs += [
            F.sum((dc * lk).cast("decimal(38,0)")).alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), dc)).alias(f"sh{k}"),
            F.sum(lk).alias(f"st{k}"),
            F.sum(F.when(lk.isNotNull(), 1).otherwise(0)).alias(f"m{k}"),
        ]
    g = wide.groupBy("event_type").agg(*aggs)
    xbar = F.col("s").cast("double") / F.col("n").cast("double")
    den = F.col("s2").cast("double") - F.col("n").cast("double") * xbar * xbar
    pairs = []
    for k in lags:
        num = (
            F.col(f"sxy{k}").cast("double")
            - xbar
            * (F.col(f"sh{k}").cast("double") + F.col(f"st{k}").cast("double"))
            + F.col(f"m{k}").cast("double") * xbar * xbar
        )
        pairs.append(
            F.struct(
                F.lit(k).alias("lag"), F.round(num / den, 6).alias("acf")
            )
        )
    return (
        g.select("event_type", F.explode(F.array(*pairs)).alias("__la"))
        .select("event_type", "__la.lag", "__la.acf")
        .orderBy("event_type", "lag")
    )


def _acf_sql() -> str:
    lags = [1, 2, 3, 7, 14]
    parts = []
    for k in lags:
        parts.append(f"""
  SELECT event_type, {k} AS lag,
         round((CAST(sxy{k} AS DOUBLE)
                - (CAST(s AS DOUBLE) / n)
                  * (CAST(sh{k} AS DOUBLE) + CAST(st{k} AS DOUBLE))
                + m{k} * (CAST(s AS DOUBLE) / n)
                       * (CAST(s AS DOUBLE) / n))
               / (CAST(s2 AS DOUBLE)
                  - n * (CAST(s AS DOUBLE) / n)
                      * (CAST(s AS DOUBLE) / n)), 6) AS acf
  FROM g""")
    sel = "\n  UNION ALL".join(parts)
    lagaggs = ",\n".join(
        f"""         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(l{k} AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy{k},
         SUM(CASE WHEN l{k} IS NOT NULL
                  THEN CAST(c AS DECIMAL(18,0)) END) AS sh{k},
         SUM(CAST(l{k} AS DECIMAL(18,0))) AS st{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS m{k}"""
        for k in lags
    )
    leads = ",\n".join(
        f"         LEAD(c, {k}) OVER (PARTITION BY event_type ORDER BY day)"
        f" AS l{k}"
        for k in lags
    )
    return f"""
WITH {_DENSE_DAILY_SQL}, wide AS (
  SELECT event_type, c,
{leads}
  FROM daily
), g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2,
{lagaggs}
  FROM wide GROUP BY 1
)
SELECT * FROM ({sel}
) ORDER BY event_type, lag
"""


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934): how
    a 10,000-doc annotation budget should split across sources,
    n_h ~ N_h * S_h (stratum size times stratum SD of doc length) —
    the design that minimizes the stratified estimator's variance,
    integerized by largest remainder (the hamilton_allocation
    discipline: floors, then the K largest fractional remainders get
    +1, ties by source name).

    Scale shape: one source moment rollup (decimal-exact), a 1-row
    total broadcast, rank window over the |sources| frame."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(dch).alias("s"),
        F.sum((dch * dch).cast("decimal(38,0)")).alias("s2"),
    )
    nh = F.col("nh").cast("double")
    mu = F.col("s").cast("double") / nh
    sd = F.sqrt(F.col("s2").cast("double") / nh - mu * mu)
    wgt = per.select("source", "nh", (nh * sd).alias("w"))
    tot = wgt.agg(F.sum("w").alias("tw"))
    j = wgt.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        (10000.0 * F.col("w") / F.col("tw")).alias("exact"),
    )
    withfloor = j.select(
        "source",
        "nh",
        F.round("exact", 4).alias("exact_share"),
        F.floor("exact").cast("long").alias("base"),
        (F.col("exact") - F.floor("exact")).alias("rem"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = withfloor.withColumn(
        "short", F.lit(10000) - F.sum("base").over(wall)
    ).withColumn(
        "rr",
        F.row_number().over(Window.orderBy(F.desc("rem"), "source")),
    )
    return ranked.select(
        "source",
        "nh",
        "exact_share",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
        ).alias("allocated"),
    ).orderBy("source")


NEYMAN_SQL = """
WITH per AS (
  SELECT source, COUNT(*) AS nh,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s2
  FROM documents GROUP BY 1
), wgt AS (
  SELECT source, nh,
         nh * sqrt(CAST(s2 AS DOUBLE) / nh
                   - (CAST(s AS DOUBLE) / nh) * (CAST(s AS DOUBLE) / nh))
           AS w
  FROM per
), j AS (
  SELECT source, nh, 10000.0 * w / (SELECT SUM(w) FROM wgt) AS exact
  FROM wgt
), f AS (
  SELECT source, nh, round(exact, 4) AS exact_share,
         CAST(FLOOR(exact) AS BIGINT) AS base,
         exact - FLOOR(exact) AS rem
  FROM j
), r AS (
  SELECT *, 10000 - SUM(base) OVER () AS short,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr
  FROM f
)
SELECT source, nh, exact_share,
       base + CASE WHEN rr <= short THEN 1 ELSE 0 END AS allocated
FROM r ORDER BY source
"""


def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm log-rank test (Mantel 1966; Peto & Peto 1972) on
    time-to-first-purchase — the censoring-aware significance test
    that belongs next to kaplan_meier_retention's curves: at every
    distinct conversion day, compare the treated arm's observed
    conversions to the hypergeometric expectation given both arms'
    at-risk counts, pool O-E and its variance, and read the chi-square.
    Users enter at their first event; non-converters censor at the
    corpus horizon (the kaplan_meier convention); arms are user parity.

    Scale shape: one per-user rollup; the risk table is a cumulative
    window over the |days|-bounded observed-time frame; conversion
    days join that bounded frame; one scalar rollup. Output one row."""
    ev = _t(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("hz"))
    per = (
        ev.crossJoin(F.broadcast(horizon))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("t0"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("tp"),
            F.max("hz").alias("hz"),
        )
        .select(
            (F.col("user_id") % 2 == 1).alias("treated"),
            F.when(
                F.col("tp").isNotNull(),
                F.datediff(F.col("tp"), F.col("t0")),
            )
            .otherwise(F.datediff(F.col("hz"), F.col("t0")))
            .alias("time"),
            F.col("tp").isNotNull().alias("converted"),
        )
    )
    # observed-time frame (bounded by the day calendar): per (time, arm)
    # totals and conversions
    tf = per.groupBy("time").agg(
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("at"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).alias("ac"),
        F.sum(
            F.when(F.col("treated") & F.col("converted"), 1).otherwise(0)
        ).alias("dt"),
        F.sum(
            F.when(~F.col("treated") & F.col("converted"), 1).otherwise(0)
        ).alias("dc"),
    )
    w = Window.orderBy("time").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    risk = tf.select(
        "time",
        "dt",
        "dc",
        (
            F.sum("at").over(wall) - F.coalesce(F.sum("at").over(w), F.lit(0))
        ).alias("nt"),
        (
            F.sum("ac").over(wall) - F.coalesce(F.sum("ac").over(w), F.lit(0))
        ).alias("nc"),
    ).where(F.col("dt") + F.col("dc") > 0)
    d = (F.col("dt") + F.col("dc")).cast("double")
    n = (F.col("nt") + F.col("nc")).cast("double")
    ntd = F.col("nt").cast("double")
    e = d * ntd / n
    v = F.when(
        n > 1.0,
        d * (ntd / n) * (1.0 - ntd / n) * (n - d) / (n - 1.0),
    ).otherwise(F.lit(0.0))
    agg = risk.agg(
        F.sum("dt").alias("obs_t"),
        F.sum(e).alias("exp_t"),
        F.sum(v).alias("var_t"),
        F.sum("dt").alias("o"),
    )
    arms = per.groupBy().agg(
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("n_treated"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).alias("n_control"),
    )
    chi2 = (
        (F.col("obs_t").cast("double") - F.col("exp_t"))
        * (F.col("obs_t").cast("double") - F.col("exp_t"))
        / F.col("var_t")
    )
    return (
        agg.crossJoin(F.broadcast(arms))
        .select(
            "n_treated",
            "n_control",
            F.col("obs_t").alias("observed_treated"),
            F.round("exp_t", 4).alias("expected_treated"),
            F.round(chi2, 4).alias("logrank_chi2"),
            F.when(chi2 > 3.841, "different").otherwise("no_difference")
            .alias("verdict"),
        )
    )


LOGRANK_SQL = """
WITH hz AS (
  SELECT MAX(ts) AS hz FROM events
), per AS (
  SELECT user_id % 2 = 1 AS treated,
         CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   IS NOT NULL
              THEN date_diff('day', MIN(ts),
                     MIN(CASE WHEN event_type = 'purchase' THEN ts END))
              ELSE date_diff('day', MIN(ts), MAX(hz)) END AS time,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
           AS converted
  FROM events, hz GROUP BY user_id
), tf AS (
  SELECT time,
         CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS at,
         CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS ac,
         CAST(SUM(CASE WHEN treated AND converted THEN 1 ELSE 0 END)
              AS BIGINT) AS dt,
         CAST(SUM(CASE WHEN NOT treated AND converted THEN 1 ELSE 0 END)
              AS BIGINT) AS dc
  FROM per GROUP BY 1
), risk AS (
  SELECT time, dt, dc,
         SUM(at) OVER () - COALESCE(SUM(at) OVER (ORDER BY time
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nt,
         SUM(ac) OVER () - COALESCE(SUM(ac) OVER (ORDER BY time
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nc
  FROM tf
), kept AS (
  SELECT * FROM risk WHERE dt + dc > 0
), agg AS (
  SELECT CAST(SUM(dt) AS BIGINT) AS obs_t,
         SUM(CAST(dt + dc AS DOUBLE) * nt / (nt + nc)) AS exp_t,
         SUM(CASE WHEN nt + nc > 1
              THEN CAST(dt + dc AS DOUBLE) * (CAST(nt AS DOUBLE) / (nt + nc))
                   * (1.0 - CAST(nt AS DOUBLE) / (nt + nc))
                   * (nt + nc - (dt + dc)) / (nt + nc - 1.0)
              ELSE 0.0 END) AS var_t
  FROM kept
), arms AS (
  SELECT CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treated,
         CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_control
  FROM per
)
SELECT n_treated, n_control, obs_t AS observed_treated,
       round(exp_t, 4) AS expected_treated,
       round((obs_t - exp_t) * (obs_t - exp_t) / var_t, 4)
         AS logrank_chi2,
       CASE WHEN (obs_t - exp_t) * (obs_t - exp_t) / var_t > 3.841
            THEN 'different' ELSE 'no_difference' END AS verdict
FROM agg, arms
"""


def bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry source-strength fit (Bradley & Terry 1952) via
    Hunter's 2004 MM algorithm, over quality duels minted from the
    corpus: within each (lang, length-bucket) prompt-proxy group the
    top-5 docs by the dpo_pairs quality score each 'beat' the bottom-5
    (cross-source duels only), and MM iterates p_i = W_i / sum_j
    n_ij / (p_i + p_j) for a FIXED 100 rounds with 0.5 pseudo-wins on
    every ordered source pair (keeps the comparison graph connected) —
    the same fit that ranks models from pairwise human preferences,
    here ranking SOURCES from document-quality duels. Rows-only for
    the driver (iterative fit); the gate recomputes the duels and the
    exact MM sequence in python (tests/test_quality.py).

    Scale shape: rank windows per bounded group mint <=25 duels/group;
    the wins matrix is |sources|^2-BOUNDED and collects once (the
    pq_quantize codebook discipline); MM runs driver-side on that tiny
    matrix; the result is a |sources|-row local frame."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = text.token_count_ws(F.col("text"))
    base = docs.select(
        "lang",
        (F.floor(F.col("n_chars") / 200) * 200).alias("len_bucket"),
        "doc_id",
        "source",
        (
            F.col("n_chars").cast("double")
            / F.greatest(toks, F.lit(1)).cast("double")
        ).alias("score"),
    )
    wg = Window.partitionBy("lang", "len_bucket")
    ranked = base.select(
        "lang",
        "len_bucket",
        "source",
        "score",
        F.row_number().over(
            wg.orderBy(F.desc("score"), F.desc("doc_id"))
        ).alias("rb"),
        F.row_number().over(
            wg.orderBy(F.asc("score"), F.asc("doc_id"))
        ).alias("rw"),
    )
    top = ranked.where(F.col("rb") <= 5).select(
        "lang",
        "len_bucket",
        F.col("source").alias("winner"),
        F.col("score").alias("ws"),
    )
    bot = ranked.where(F.col("rw") <= 5).select(
        "lang",
        "len_bucket",
        F.col("source").alias("loser"),
        F.col("score").alias("ls"),
    )
    duels = (
        top.join(bot, ["lang", "len_bucket"])
        .where((F.col("winner") != F.col("loser")) & (F.col("ws") > F.col("ls")))
        .groupBy("winner", "loser")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wins = {(r["winner"], r["loser"]): r["w"] for r in duels.collect()}
    sources = sorted(
        {w for w, _ in wins} | {l for _, l in wins}
        | {r["source"] for r in docs.select("source").distinct().collect()}
    )
    # pseudo-win smoothing on every ordered pair
    n_ij = {}
    for i in sources:
        for j in sources:
            if i != j:
                n_ij[(i, j)] = wins.get((i, j), 0) + 0.5
    p = {s: 1.0 for s in sources}
    for _ in range(100):
        newp = {}
        for i in sources:
            wi = sum(n_ij[(i, j)] for j in sources if j != i)
            denom = sum(
                (n_ij[(i, j)] + n_ij[(j, i)]) / (p[i] + p[j])
                for j in sources
                if j != i
            )
            newp[i] = wi / denom
        tot = sum(newp.values())
        p = {s: v * len(sources) / tot for s, v in newp.items()}
    rows = [
        (
            s,
            round(p[s], 6),
            int(sum(wins.get((s, j), 0) for j in sources)),
            int(sum(wins.get((j, s), 0) for j in sources)),
        )
        for s in sources
    ]
    out = spark.createDataFrame(
        rows, "source string, bt_strength double, wins long, losses long"
    )
    rk = Window.orderBy(F.desc("bt_strength"), "source")
    return out.select(
        "source",
        "bt_strength",
        "wins",
        "losses",
        F.row_number().over(rk).alias("rank"),
    ).orderBy("source")


def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (the experimentation-platform guard
    popularized by Kohavi, Tang & Xu 2020, "Trustworthy Online
    Controlled Experiments"): users hash into 100 assignment buckets
    (user_id mod 100 — deterministic), and the chi-square against the
    uniform expectation screams if the assignment pipeline is dropping
    or double-counting anyone — the FIRST check any A/B readout must
    pass, run before looking at the metric. The statistic folds as
    sum (100 b_i - n)^2 / (100 n) with an exact-integer numerator (the
    per-bucket sums run in DECIMAL), so both engines agree bitwise.

    Scale shape: one distinct-user rollup, one 100-row bucket rollup,
    pure scalar assembly. Output one row."""
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    per = users.groupBy(F.pmod("user_id", F.lit(100)).alias("bucket")).agg(
        F.count(F.lit(1)).alias("b")
    )
    tot = per.agg(
        F.sum("b").alias("n"), F.count(F.lit(1)).alias("k")
    )
    j = per.crossJoin(F.broadcast(tot))
    dev = (
        F.lit(100).cast("decimal(18,0)") * F.col("b").cast("decimal(18,0)")
        - F.col("n").cast("decimal(18,0)")
    )
    agg = j.groupBy("n", "k").agg(
        F.sum((dev * dev).cast("decimal(38,0)")).alias("num"),
        F.max("b").alias("max_bucket"),
        F.min("b").alias("min_bucket"),
    )
    chi2 = F.col("num").cast("double") / (100.0 * F.col("n").cast("double"))
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("k").alias("n_buckets"),
        "min_bucket",
        "max_bucket",
        F.round(chi2, 4).alias("srm_chi2"),
        # chi2_{0.999, df=99} ~ 148.21: the SRM convention is a very
        # low alpha because a true mismatch is a pipeline bug, not noise
        F.when(chi2 > 148.21, "mismatch").otherwise("ok").alias("verdict"),
    )


SRM_SQL = """
WITH users AS (
  SELECT DISTINCT user_id FROM events
), per AS (
  SELECT user_id % 100 AS bucket, COUNT(*) AS b FROM users GROUP BY 1
), tot AS (
  SELECT CAST(SUM(b) AS BIGINT) AS n, COUNT(*) AS k FROM per
), agg AS (
  SELECT n, k,
         SUM(CAST((CAST(100 AS DECIMAL(18,0)) * CAST(b AS DECIMAL(18,0))
                   - CAST(n AS DECIMAL(18,0)))
                  * (CAST(100 AS DECIMAL(18,0)) * CAST(b AS DECIMAL(18,0))
                     - CAST(n AS DECIMAL(18,0))) AS DECIMAL(38,0))) AS num,
         CAST(MAX(b) AS BIGINT) AS max_bucket,
         CAST(MIN(b) AS BIGINT) AS min_bucket
  FROM per, tot GROUP BY 1, 2
)
SELECT n AS n_users, k AS n_buckets, min_bucket, max_bucket,
       round(CAST(num AS DOUBLE) / (100.0 * n), 4) AS srm_chi2,
       CASE WHEN CAST(num AS DOUBLE) / (100.0 * n) > 148.21
            THEN 'mismatch' ELSE 'ok' END AS verdict
FROM agg
"""


def gini_impurity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best decision-stump split (CART — Breiman, Friedman, Olshen &
    Stone 1984): the single value threshold that best separates
    purchase events from the rest by weighted Gini impurity — the
    univariate feature screen a feature store runs before anything
    gradient-boosted, and the exact computation behind 'is this signal
    worth a tree'. Values quantize to 1000 bins (the ks_drift
    discipline); every candidate boundary's weighted impurity comes
    from cumulative class counts over the bounded bin frame; argmin
    tie-breaks to the smallest threshold via a struct min.

    Scale shape: one (bin) rollup with class counts, cumulative
    windows over <=1000 rows, a 1-row argmin. Output one row."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(999),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 1000.0
            ),
        ).alias("bin"),
        (F.col("event_type") == "purchase").alias("pos"),
        ((F.col("vmax") - F.col("vmin")) / 1000.0).alias("binw"),
        F.col("vmin").alias("vmin"),
    )
    per = binned.groupBy("bin", "binw", "vmin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("p"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("q"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "bin",
        "binw",
        "vmin",
        F.sum("p").over(w).alias("pl"),
        F.sum("q").over(w).alias("ql"),
        F.sum("p").over(wall).alias("pt"),
        F.sum("q").over(wall).alias("qt"),
    ).where(F.col("bin") < 999)
    nl = (F.col("pl") + F.col("ql")).cast("double")
    nr = (
        F.col("pt") + F.col("qt") - F.col("pl") - F.col("ql")
    ).cast("double")
    n = (F.col("pt") + F.col("qt")).cast("double")
    pld = F.col("pl").cast("double")
    prd = (F.col("pt") - F.col("pl")).cast("double")
    gl = 1.0 - (pld / nl) * (pld / nl) - ((nl - pld) / nl) * ((nl - pld) / nl)
    gr = 1.0 - (prd / nr) * (prd / nr) - ((nr - prd) / nr) * ((nr - prd) / nr)
    wg = (nl / n) * gl + (nr / n) * gr
    cand = cum.where((nl > 0) & (nr > 0)).select(
        "bin",
        "binw",
        "vmin",
        "pt",
        "qt",
        wg.alias("wgini"),
    )
    best = cand.groupBy("pt", "qt").agg(
        F.min(F.struct("wgini", "bin", "binw", "vmin")).alias("b")
    )
    ptd = F.col("pt").cast("double")
    qtd = F.col("qt").cast("double")
    base = 1.0 - (ptd / (ptd + qtd)) * (ptd / (ptd + qtd)) - (
        qtd / (ptd + qtd)
    ) * (qtd / (ptd + qtd))
    return best.select(
        F.round(
            F.col("b.vmin") + (F.col("b.bin") + 1) * F.col("b.binw"), 6
        ).alias("best_threshold"),
        F.round(F.col("b.wgini"), 6).alias("split_gini"),
        F.round(base, 6).alias("baseline_gini"),
        F.round(base - F.col("b.wgini"), 6).alias("gini_gain"),
        F.col("pt").alias("n_positive"),
        F.col("qt").alias("n_negative"),
    )


GINI_SPLIT_SQL = """
WITH bounds AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events
), binned AS (
  SELECT LEAST(999, CAST(FLOOR((value - vmin) / (vmax - vmin) * 1000.0)
                         AS BIGINT)) AS bin,
         event_type = 'purchase' AS pos,
         (vmax - vmin) / 1000.0 AS binw, vmin
  FROM events, bounds
), per AS (
  SELECT bin, binw, vmin,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS q
  FROM binned GROUP BY 1, 2, 3
), cum AS (
  SELECT bin, binw, vmin,
         SUM(p) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
         SUM(q) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ql,
         SUM(p) OVER () AS pt, SUM(q) OVER () AS qt
  FROM per
  QUALIFY bin < 999
), cand AS (
  SELECT bin, binw, vmin, pt, qt,
         (CAST(pl + ql AS DOUBLE) / (pt + qt))
           * (1.0 - (CAST(pl AS DOUBLE) / (pl + ql))
                    * (CAST(pl AS DOUBLE) / (pl + ql))
                  - (CAST(pl + ql - pl AS DOUBLE) / (pl + ql))
                    * (CAST(pl + ql - pl AS DOUBLE) / (pl + ql)))
         + (CAST(pt + qt - pl - ql AS DOUBLE) / (pt + qt))
           * (1.0 - (CAST(pt - pl AS DOUBLE) / (pt + qt - pl - ql))
                    * (CAST(pt - pl AS DOUBLE) / (pt + qt - pl - ql))
                  - (CAST(qt - ql AS DOUBLE) / (pt + qt - pl - ql))
                    * (CAST(qt - ql AS DOUBLE) / (pt + qt - pl - ql)))
           AS wgini
  FROM cum
  WHERE pl + ql > 0 AND pt + qt - pl - ql > 0
), best AS (
  SELECT pt, qt, bin, binw, vmin, wgini
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY wgini, bin) AS rn FROM cand)
  WHERE rn = 1
)
SELECT round(vmin + (bin + 1) * binw, 6) AS best_threshold,
       round(wgini, 6) AS split_gini,
       round(1.0 - (CAST(pt AS DOUBLE) / (pt + qt))
                   * (CAST(pt AS DOUBLE) / (pt + qt))
                 - (CAST(qt AS DOUBLE) / (pt + qt))
                   * (CAST(qt AS DOUBLE) / (pt + qt)), 6) AS baseline_gini,
       round(1.0 - (CAST(pt AS DOUBLE) / (pt + qt))
                   * (CAST(pt AS DOUBLE) / (pt + qt))
                 - (CAST(qt AS DOUBLE) / (pt + qt))
                   * (CAST(qt AS DOUBLE) / (pt + qt)) - wgini, 6)
         AS gini_gain,
       CAST(pt AS BIGINT) AS n_positive, CAST(qt AS BIGINT) AS n_negative
FROM best
"""


def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality and trend strength (Wang, Smith & Hyndman 2006's
    variance-ratio features, the measures behind the 'feasts' feature
    set): F_S = max(0, 1 - Var(R)/Var(S+R)) and F_T = max(0, 1 -
    Var(R)/Var(T+R)) computed over seasonal_decompose's own output —
    the one-number-per-series summary that turns a decomposition plot
    into a rankable signal ('which metrics are actually seasonal').
    The decomposition's rounded 6-dp components cast EXACTLY to
    DECIMAL(18,6), so the variance moments are decimal-exact.

    Scale shape: rides the seasonal_decompose plan (calendar-bounded
    hourly frames), then one |types|-row moment rollup."""
    dec = seasonal_decompose(spark, sf_dir).where(
        F.col("trend").isNotNull()
    )
    r = F.col("remainder").cast("decimal(18,6)")
    s = F.col("seasonal").cast("decimal(18,6)")
    t = F.col("trend").cast("decimal(18,6)")
    sr = (s + r).cast("decimal(24,6)")
    tr = (t + r).cast("decimal(24,6)")
    agg = dec.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(r).alias("s_r"),
        F.sum((r * r).cast("decimal(38,12)")).alias("s_r2"),
        F.sum(sr).alias("s_sr"),
        F.sum((sr * sr).cast("decimal(38,12)")).alias("s_sr2"),
        F.sum(tr).alias("s_tr"),
        F.sum((tr * tr).cast("decimal(38,12)")).alias("s_tr2"),
    )
    n = F.col("n").cast("double")

    def var(s2c, sc):
        m = F.col(sc).cast("double") / n
        return F.col(s2c).cast("double") / n - m * m

    fs = F.greatest(
        F.lit(0.0), 1.0 - var("s_r2", "s_r") / var("s_sr2", "s_sr")
    )
    ft = F.greatest(
        F.lit(0.0), 1.0 - var("s_r2", "s_r") / var("s_tr2", "s_tr")
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.round(fs, 6).alias("seasonal_strength"),
        F.round(ft, 6).alias("trend_strength"),
    ).orderBy("event_type")


def _seasonal_strength_sql() -> str:
    return f"""
WITH decomp AS ({SEASONAL_SQL}
), d AS (
  SELECT event_type,
         CAST(remainder AS DECIMAL(18,6)) AS r,
         CAST(CAST(seasonal AS DECIMAL(18,6))
              + CAST(remainder AS DECIMAL(18,6)) AS DECIMAL(24,6)) AS sr,
         CAST(CAST(trend AS DECIMAL(18,6))
              + CAST(remainder AS DECIMAL(18,6)) AS DECIMAL(24,6)) AS tr
  FROM decomp WHERE trend IS NOT NULL
), agg AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(r) AS s_r, SUM(CAST(r * r AS DECIMAL(38,12))) AS s_r2,
         SUM(sr) AS s_sr, SUM(CAST(sr * sr AS DECIMAL(38,12))) AS s_sr2,
         SUM(tr) AS s_tr, SUM(CAST(tr * tr AS DECIMAL(38,12))) AS s_tr2
  FROM d GROUP BY 1
)
SELECT event_type, n AS n_hours,
       round(GREATEST(0.0,
         1.0 - (CAST(s_r2 AS DOUBLE) / n
                - (CAST(s_r AS DOUBLE) / n) * (CAST(s_r AS DOUBLE) / n))
             / (CAST(s_sr2 AS DOUBLE) / n
                - (CAST(s_sr AS DOUBLE) / n) * (CAST(s_sr AS DOUBLE) / n))),
         6) AS seasonal_strength,
       round(GREATEST(0.0,
         1.0 - (CAST(s_r2 AS DOUBLE) / n
                - (CAST(s_r AS DOUBLE) / n) * (CAST(s_r AS DOUBLE) / n))
             / (CAST(s_tr2 AS DOUBLE) / n
                - (CAST(s_tr AS DOUBLE) / n) * (CAST(s_tr AS DOUBLE) / n))),
         6) AS trend_strength
FROM agg ORDER BY event_type
"""


def code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection by surface heuristics (the lightweight
    screen behind code-routing in mixed corpora — CodeParrot /
    BigScience pile-style filters use exactly these signals before a
    classifier exists): per doc, braces/semicolons/equals density and
    code-keyword hits ('def ', 'import ', 'void ', '#include')
    combine into a score; score >= 3 flags the doc. Emits per-source
    code rates — the routing table a mixed-corpus pipeline needs
    before sending docs to a code tokenizer.

    Scale shape: map-only string arithmetic (length-difference char
    counting, no regex in the hot path), one source rollup."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    ln = F.greatest(F.length(t), F.lit(1)).cast("double")

    def chcount(ch):
        return (
            F.length(t) - F.length(F.replace(t, F.lit(ch), F.lit("")))
        ).cast("double")

    semi = chcount(";") / ln
    brace = chcount("{") + chcount("}")
    eq = chcount("=") / ln
    kw = (
        F.when(t.contains("def "), 1).otherwise(0)
        + F.when(t.contains("import "), 1).otherwise(0)
        + F.when(t.contains("void "), 1).otherwise(0)
        + F.when(t.contains("#include"), 1).otherwise(0)
    )
    score = (
        F.when(semi > 0.01, 2).otherwise(0)
        + F.when(brace >= 2, 2).otherwise(0)
        + F.when(eq > 0.01, 1).otherwise(0)
        + kw
    )
    scored = docs.select(
        "source", score.alias("code_score"), (score >= 3).alias("is_code")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_code"), 1).otherwise(0)).alias("n_code"),
            F.round(
                F.sum(F.col("code_score").cast("decimal(18,0)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
        )
        .select(
            "source",
            "n_docs",
            "n_code",
            F.round(
                F.col("n_code").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("code_rate"),
            "mean_score",
        )
        .orderBy("source")
    )


CODE_DETECT_SQL = """
WITH scored AS (
  SELECT source,
         (CASE WHEN (length(text) - length(replace(text, ';', '')))
                    / GREATEST(length(text), 1) > 0.01 THEN 2 ELSE 0 END
          + CASE WHEN (length(text) - length(replace(text, '{', '')))
                      + (length(text) - length(replace(text, '}', '')))
                      >= 2 THEN 2 ELSE 0 END
          + CASE WHEN (length(text) - length(replace(text, '=', '')))
                      / GREATEST(length(text), 1) > 0.01 THEN 1 ELSE 0 END
          + CASE WHEN text LIKE '%def %' THEN 1 ELSE 0 END
          + CASE WHEN text LIKE '%import %' THEN 1 ELSE 0 END
          + CASE WHEN text LIKE '%void %' THEN 1 ELSE 0 END
          + CASE WHEN text LIKE '%#include%' THEN 1 ELSE 0 END) AS score
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN score >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_code,
       round(CAST(SUM(CASE WHEN score >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS code_rate,
       round(CAST(SUM(CAST(score AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*),
             6) AS mean_score
FROM scored GROUP BY 1 ORDER BY source
"""


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration via pool-adjacent-violators (Ayer et al.
    1955 PAVA; Zadrozny & Elkan 2002 for classifier calibration):
    fit the monotone map from value decile to purchase probability —
    the nonparametric alternative to Platt scaling that
    ece_calibration's bins feed. The raw per-bin rates need not be
    monotone; PAVA pools adjacent violators into weighted blocks.
    Rows-only for the driver (the pooling is sequential); PAVA runs
    DRIVER-SIDE on the 100-row bounded bin table (the bradley_terry
    collect discipline), and the gate recomputes it exactly in python
    (tests/test_quality.py).

    Scale shape: one 100-bin rollup (corpus-scale work is one agg);
    everything after is O(bins) on the driver."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.least(
                F.lit(99),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * 100.0
                ),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("k"),
        )
        .orderBy("bin")
    )
    rows = per.collect()
    # PAVA over the bounded bin table: pool adjacent violators
    blocks = []  # [sum_k, sum_n, bins]
    for r in rows:
        blocks.append([float(r["k"]), float(r["n"]), [int(r["bin"])]])
        while (
            len(blocks) > 1
            and blocks[-2][0] * blocks[-1][1]
            >= blocks[-1][0] * blocks[-2][1]
        ):
            k2, n2, b2 = blocks.pop()
            blocks[-1][0] += k2
            blocks[-1][1] += n2
            blocks[-1][2].extend(b2)
    out = []
    raw = {int(r["bin"]): (int(r["k"]), int(r["n"])) for r in rows}
    for k, n, bins in blocks:
        fit = round(k / n, 6) if n else 0.0
        for b in bins:
            rk, rn = raw[b]
            out.append(
                (b, rn, round(rk / rn, 6) if rn else 0.0, fit)
            )
    return spark.createDataFrame(
        sorted(out),
        "bin long, n long, raw_rate double, isotonic_rate double",
    ).orderBy("bin")


def tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences (Tukey 1977 EDA): per event_type, the
    exact quartiles over integer cents (histogram-rank — lower
    quartile = smallest cent value whose cumulative count reaches
    ceil(n/4), upper at ceil(3n/4)), the 1.5*IQR inner and 3*IQR outer
    fences, and the mild/extreme outlier counts — the first outlier
    read anyone does, exact instead of approx_percentile.

    Scale shape: one (type, cents) histogram (bounded domain),
    cumulative windows over that bounded frame, a broadcast fence join
    back, one rollup."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100).alias("vc")
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wall)
    )

    def rank_val(frac, name):
        r = F.ceil(F.lit(frac) * F.col("n"))
        return (
            cum.where(F.col("cum") - F.col("cnt") < r)
            .where(F.col("cum") >= r)
            .select("event_type", F.col("vc").alias(name))
        )

    q1 = rank_val(0.25, "q1")
    q3 = rank_val(0.75, "q3")
    fences = q1.join(q3, "event_type").select(
        "event_type",
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
    )
    j = cents.join(F.broadcast(fences), "event_type")
    lo_in = F.col("q1") - 1.5 * F.col("iqr")
    hi_in = F.col("q3") + 1.5 * F.col("iqr")
    lo_out = F.col("q1") - 3.0 * F.col("iqr")
    hi_out = F.col("q3") + 3.0 * F.col("iqr")
    return (
        j.groupBy("event_type", "q1", "q3", "iqr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("vc") < lo_in) | (F.col("vc") > hi_in), 1
                ).otherwise(0)
            ).alias("n_mild"),
            F.sum(
                F.when(
                    (F.col("vc") < lo_out) | (F.col("vc") > hi_out), 1
                ).otherwise(0)
            ).alias("n_extreme"),
        )
        .select(
            "event_type",
            "n",
            (F.col("q1") / 100.0).alias("q1"),
            (F.col("q3") / 100.0).alias("q3"),
            (F.col("iqr") / 100.0).alias("iqr"),
            "n_mild",
            "n_extreme",
        )
        .orderBy("event_type")
    )


TUKEY_SQL = """
WITH cents AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS vc FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), cum AS (
  SELECT event_type, vc, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
), q1 AS (
  SELECT event_type, vc AS q1 FROM cum
  WHERE cum - cnt < CEIL(0.25 * n) AND cum >= CEIL(0.25 * n)
), q3 AS (
  SELECT event_type, vc AS q3 FROM cum
  WHERE cum - cnt < CEIL(0.75 * n) AND cum >= CEIL(0.75 * n)
), fences AS (
  SELECT q1.event_type, q1, q3, q3 - q1 AS iqr
  FROM q1 JOIN q3 ON q1.event_type = q3.event_type
)
SELECT cents.event_type, COUNT(*) AS n,
       q1 / 100.0 AS q1, q3 / 100.0 AS q3, iqr / 100.0 AS iqr,
       CAST(SUM(CASE WHEN vc < q1 - 1.5 * iqr OR vc > q3 + 1.5 * iqr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mild,
       CAST(SUM(CASE WHEN vc < q1 - 3.0 * iqr OR vc > q3 + 3.0 * iqr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
FROM cents JOIN fences ON cents.event_type = fences.event_type
GROUP BY 1, q1, q3, iqr ORDER BY cents.event_type
"""


def path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey trigrams (the clickstream sequential-pattern
    baseline of Agrawal & Srikant 1995's sequence mining, kept at
    order-3 paths): the 20 most common 3-step event-type paths across
    user sessions, with share of all trigrams — the "how do users
    actually move" table behind funnel design. Steps order by (ts,
    event_id) within user.

    Scale shape: ONE user-keyed window (two LEADs), a |types|^3-bounded
    rollup, and a top-20 pick via min(struct) over that bounded frame
    — no corpus-scale sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("s3"),
        )
        .where(F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = tri.withColumn("tot", F.sum("cnt").over(wall)).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc("cnt"), "s1", "s2", "s3")
        ),
    )
    return (
        ranked.where(F.col("rk") <= 20)
        .select(
            F.col("rk").alias("rank"),
            "s1",
            "s2",
            "s3",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("tot").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("rank")
    )


PATH_TRIGRAMS_SQL = """
WITH steps AS (
  SELECT event_type AS s1,
         LEAD(event_type, 1) OVER w AS s2,
         LEAD(event_type, 2) OVER w AS s3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT s1, s2, s3, COUNT(*) AS cnt
  FROM steps WHERE s3 IS NOT NULL GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, SUM(cnt) OVER () AS tot,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2, s3) AS rk
  FROM tri
)
SELECT rk AS rank, s1, s2, s3, cnt,
       round(CAST(cnt AS DOUBLE) / tot, 6) AS share
FROM ranked WHERE rk <= 20 ORDER BY rk
"""


def eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source defect rates (Efron &
    Morris 1975; the beta-binomial method-of-moments version of
    Robbins 1956): small sources' raw short-doc rates shrink toward
    the corpus prior by exactly the amount their sample size earns —
    the fix for 'the tiny source tops/bottoms every leaderboard'.
    Prior (alpha, beta) fits by method of moments on the per-source
    rate spread; the posterior mean is (k + alpha)/(n + alpha + beta).

    Scale shape: one source rollup, one 1-row prior broadcast
    (moments of the |sources|-bounded rate frame), map-only posterior.
    Pairs with wilson_ci: same defect definition, the interval vs the
    point estimate."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    rates = per.select("source", "n", "k", p.alias("p"))
    prior = rates.agg(
        F.avg("p").alias("mu"),
        F.var_samp("p").alias("v"),
    ).select(
        "mu",
        "v",
        # method of moments: alpha+beta = mu(1-mu)/v - 1
        (
            F.col("mu") * (1.0 - F.col("mu")) / F.col("v") - 1.0
        ).alias("m"),
    )
    j = rates.crossJoin(F.broadcast(prior))
    alpha = F.col("mu") * F.col("m")
    beta = (1.0 - F.col("mu")) * F.col("m")
    post = (F.col("k").cast("double") + alpha) / (
        F.col("n").cast("double") + alpha + beta
    )
    return j.select(
        "source",
        "n",
        "k",
        F.round("p", 6).alias("raw_rate"),
        F.round(post, 6).alias("shrunk_rate"),
        F.round(post - F.col("p"), 6).alias("shift"),
    ).orderBy("source")


EB_SHRINKAGE_SQL = """
WITH per AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY 1
), rates AS (
  SELECT source, n, k, CAST(k AS DOUBLE) / n AS p FROM per
), prior AS (
  SELECT AVG(p) AS mu, var_samp(p) AS v,
         AVG(p) * (1.0 - AVG(p)) / var_samp(p) - 1.0 AS m
  FROM rates
)
SELECT source, n, k, round(p, 6) AS raw_rate,
       round((k + mu * m) / (n + m), 6) AS shrunk_rate,
       round((k + mu * m) / (n + m) - p, 6) AS shift
FROM rates, prior ORDER BY source
"""


def power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis per event_type (the standard two-sample
    normal-approximation sizing of Kohavi, Tang & Xu 2020 ch.17;
    z_alpha/2 = 1.96, z_power = 0.8416 for 80%): given each type's
    observed value variance (decimal cents moments) and current arm
    sizes, the minimum detectable effect TODAY, and the per-arm n
    needed to detect a 1% relative lift — the two numbers that decide
    whether an experiment is even worth launching. All closed form:
    MDE = (z_a + z_b) * sqrt(2 sigma^2 / n), n_needed = 2 ((z_a + z_b)
    * sigma / (0.01 mu))^2.

    Scale shape: one (type, arm) rollup then scalar math; |types|
    rows."""
    ev = _t(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("decimal(18,0)")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
        ).alias("n_treated"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("s2"),
    )
    za_zb = 1.96 + 0.8416
    n = F.col("n_total").cast("double")
    mu = F.col("s").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu
    narm = F.col("n_treated").cast("double")
    mde = za_zb * F.sqrt(2.0 * var / narm)
    n_needed = 2.0 * (za_zb * F.sqrt(var) / (0.01 * mu)) * (
        za_zb * F.sqrt(var) / (0.01 * mu)
    )
    return per.select(
        "event_type",
        "n_total",
        F.round(mu / 100.0, 6).alias("mean_value"),
        F.round(mde / 100.0, 6).alias("mde_absolute"),
        F.round(mde / mu, 6).alias("mde_relative"),
        F.ceil(n_needed).cast("long").alias("n_per_arm_for_1pct"),
    ).orderBy("event_type")


POWER_MDE_SQL = """
WITH per AS (
  SELECT event_type, COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treated,
         SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  * CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM events GROUP BY 1
), m AS (
  SELECT event_type, n_total, n_treated,
         CAST(s AS DOUBLE) / n_total AS mu,
         CAST(s2 AS DOUBLE) / n_total
           - (CAST(s AS DOUBLE) / n_total) * (CAST(s AS DOUBLE) / n_total)
           AS var
  FROM per
)
SELECT event_type, n_total,
       round(mu / 100.0, 6) AS mean_value,
       round((1.96 + 0.8416) * sqrt(2.0 * var / n_treated) / 100.0, 6)
         AS mde_absolute,
       round((1.96 + 0.8416) * sqrt(2.0 * var / n_treated) / mu, 6)
         AS mde_relative,
       CAST(CEIL(2.0 * ((1.96 + 0.8416) * sqrt(var) / (0.01 * mu))
                 * ((1.96 + 0.8416) * sqrt(var) / (0.01 * mu)))
            AS BIGINT) AS n_per_arm_for_1pct
FROM m ORDER BY event_type
"""


def silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette (Hruschka, de Castro & Campello 2004 —
    the centroid-based silhouette that drops the O(n^2) pairwise
    term): per label, how well its vectors sit with their OWN centroid
    vs the nearest other centroid, s = (b - a)/max(a, b) — the cluster
    -quality read that tells you whether the label column is worth
    training on. Centroids reuse centroid_distances' machinery
    (posexplode + (label, pos) agg, rounded to 6 dp so the broadcast
    side is a fixed constant), and every distance is a per-row ordered
    array fold — deterministic cross-engine.

    Scale shape: ONE (label, pos) agg (|labels| x d out); vectors then
    join the |labels|-row broadcast centroid frame with a bounded x
    |labels| fan-out (10 here); per-row folds, one label rollup. The
    embedding column never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    cen = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
        .select(F.col("label").alias("clabel"), "centroid")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                "embedding",
                "centroid",
                lambda x, y: (x.cast("double") - y)
                * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    fan = emb.crossJoin(F.broadcast(cen)).select(
        "vec_id",
        "label",
        "clabel",
        dist.alias("d"),
    )
    per_vec = fan.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("label") == F.col("clabel"), F.col("d"))).alias(
            "a"
        ),
        F.min(F.when(F.col("label") != F.col("clabel"), F.col("d"))).alias(
            "b"
        ),
    )
    s = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(s), 4).alias("mean_silhouette"),
            F.sum(F.when(s < 0, 1).otherwise(0)).alias("n_misplaced"),
        )
        .orderBy("label")
    )


SILHOUETTE_SQL = """
WITH ex AS (
  SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
), cen AS (
  SELECT label AS clabel, pos, round(AVG(x), 6) AS m FROM ex GROUP BY 1, 2
), cvec AS (
  SELECT clabel, list(m ORDER BY pos) AS centroid FROM cen GROUP BY 1
), fan AS (
  SELECT vec_id, label, clabel,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> (CAST(embedding[i] AS DOUBLE) - centroid[i])
                   * (CAST(embedding[i] AS DOUBLE) - centroid[i])))) AS d
  FROM embeddings, cvec
), per_vec AS (
  SELECT vec_id, label,
         MAX(CASE WHEN label = clabel THEN d END) AS a,
         MIN(CASE WHEN label != clabel THEN d END) AS b
  FROM fan GROUP BY 1, 2
)
SELECT label, COUNT(*) AS n,
       round(AVG((b - a) / GREATEST(a, b)), 4) AS mean_silhouette,
       CAST(SUM(CASE WHEN (b - a) / GREATEST(a, b) < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_misplaced
FROM per_vec GROUP BY 1 ORDER BY label
"""


def dunning_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness (Dunning 1993, the G^2 statistic
    corpus linguistics standardized on): which tokens are
    over/under-represented in English docs vs the rest of the corpus —
    the classic keyword-contrast companion to log_odds_keywords'
    Monroe prior-regularized z. G^2 = 2 sum O ln(O/E) over the 2x2
    token table (zero cells contribute 0); emits the top 50 by G^2
    with the direction. Integer counts; E is a rational; each G^2 is
    one deterministic double expression.

    Scale shape: one token-keyed agg with conditional partials (one
    corpus pass), a 1-row totals broadcast, and the top-50 pick via
    rank over the vocab-bounded score frame."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").alias("in_en"),
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).where(F.length("tok") >= 3)
    per = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("in_en"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("in_en"), 0).otherwise(1)).alias("b"),
    )
    tot = per.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    j = per.crossJoin(F.broadcast(tot))
    ad = F.col("a").cast("double")
    bd = F.col("b").cast("double")
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    ea = nad * (ad + bd) / (nad + nbd)
    eb = nbd * (ad + bd) / (nad + nbd)
    g2 = 2.0 * (
        F.when(F.col("a") > 0, ad * F.log(ad / ea)).otherwise(F.lit(0.0))
        + F.when(F.col("b") > 0, bd * F.log(bd / eb)).otherwise(F.lit(0.0))
    )
    scored = j.select(
        "tok",
        "a",
        "b",
        F.round(g2, 4).alias("g2"),
        F.when(ad / nad > bd / nbd, "en_marked")
        .otherwise("other_marked")
        .alias("direction"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("g2"), "tok")),
    )
    return ranked.where(F.col("rank") <= 50).select(
        "rank", "tok", F.col("a").alias("en_count"),
        F.col("b").alias("other_count"), "g2", "direction"
    ).orderBy("rank")


DUNNING_SQL = r"""
WITH toks AS (
  SELECT lang = 'en' AS in_en, t.tok
  FROM documents,
       UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(tok)
  WHERE length(t.tok) >= 3
), per AS (
  SELECT tok,
         CAST(SUM(CASE WHEN in_en THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN in_en THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM per
), scored AS (
  SELECT tok, a, b,
         round(2.0 * (
           CASE WHEN a > 0 THEN a * ln(a / (CAST(na AS DOUBLE) * (a + b)
                                            / (na + nb)))
                ELSE 0.0 END
           + CASE WHEN b > 0 THEN b * ln(b / (CAST(nb AS DOUBLE) * (a + b)
                                              / (na + nb)))
                  ELSE 0.0 END), 4) AS g2,
         CASE WHEN CAST(a AS DOUBLE) / na > CAST(b AS DOUBLE) / nb
              THEN 'en_marked' ELSE 'other_marked' END AS direction
  FROM per, tot
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY g2 DESC, tok) AS rank FROM scored
)
SELECT rank, tok, a AS en_count, b AS other_count, g2, direction
FROM ranked WHERE rank <= 50 ORDER BY rank
"""


def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance (Burrows 2002; Evert et al.
    2017's evaluation): between every source pair, the mean absolute
    difference of z-scored relative frequencies over the corpus's top
    30 most-frequent tokens — THE attribution/style distance of
    computational stylometry, here reading which sources write alike
    (a contamination/provenance screen). z-scores standardize each
    token's relative frequency across the |sources| population.

    Scale shape: one token agg pass; the top-30 vocabulary picks via
    rank over the vocab-bounded count frame and broadcasts; the
    z-score frame is |sources| x 30 and the pair frame |sources|^2/2 —
    all bounded."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).where(F.length("tok") >= 1)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("c"), "tok"))
        )
        .where(F.col("rk") <= 30)
        .select("tok")
    )
    st = toks.join(F.broadcast(top), "tok").groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    stot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    rel = st.join(F.broadcast(stot), "source").select(
        "source",
        "tok",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("f"),
    )
    wt = Window.partitionBy("tok")
    z = rel.select(
        "source",
        "tok",
        (
            (F.col("f") - F.avg("f").over(wt)) / F.stddev_pop("f").over(wt)
        ).alias("z"),
    )
    a = z.select(
        F.col("source").alias("src_a"), "tok", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"), "tok", F.col("z").alias("zb")
    )
    pairs = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.sum(F.abs(F.col("za") - F.col("zb")))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("delta"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    rk = Window.orderBy("delta", "src_a", "src_b")
    return (
        pairs.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= 30)
        .select("rank", "src_a", "src_b", "delta")
        .orderBy("rank")
    )


BURROWS_SQL = r"""
WITH toks AS (
  SELECT source, t.tok
  FROM documents,
       UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(tok)
  WHERE length(t.tok) >= 1
), top AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
    FROM toks GROUP BY tok
  ) WHERE rk <= 30
), st AS (
  SELECT source, toks.tok, COUNT(*) AS c
  FROM toks JOIN top ON toks.tok = top.tok GROUP BY 1, 2
), stot AS (
  SELECT source, COUNT(*) AS n FROM toks GROUP BY 1
), rel AS (
  SELECT st.source, tok, CAST(c AS DOUBLE) / n AS f
  FROM st JOIN stot ON st.source = stot.source
), z AS (
  SELECT source, tok,
         (f - AVG(f) OVER (PARTITION BY tok))
           / stddev_pop(f) OVER (PARTITION BY tok) AS z
  FROM rel
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         round(SUM(ABS(a.z - b.z)) / COUNT(*), 4) AS delta
  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT ROW_NUMBER() OVER (ORDER BY delta, src_a, src_b) AS rank,
       src_a, src_b, delta
FROM pairs QUALIFY rank <= 30 ORDER BY rank
"""


def lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation lead-lag screen between event types' daily
    series (the CCF of Box & Jenkins 1970 at lags 0/1/3/7): does one
    metric's movement foreshadow another's — the first causality-ish
    read (Granger's precondition) a monitoring team runs across
    metrics. Pearson r between x_t (type a) and y_{t+k} (type b) over
    the shared calendar, from exact integer lag products (the
    acf_daily discipline): every sum is an integer or DECIMAL, the
    correlation is one double expression per (a, b, k).

    Scale shape: one daily rollup (DENSE calendar — zero-event days
    count 0, so the lag shift is true calendar days); the pair frame
    joins daily(a) x daily(b) on the shifted DAY key —
    calendar-bounded (|days| rows per pair), never corpus-sized;
    output |types|^2 x |lags|."""
    ev = _t(spark, sf_dir, "events")
    # calendar x |types|-bounded; persisted so the 4 lag branches (x2
    # sides each) read the rollup once instead of re-planning it 8x
    daily = scoped_persist(_daily_counts_dense(ev))
    out = None
    for k in [0, 1, 3, 7]:
        a = daily.select(
            F.col("event_type").alias("type_a"),
            F.col("day").alias("day"),
            F.col("c").alias("x"),
        )
        b = daily.select(
            F.col("event_type").alias("type_b"),
            # stay timestamp-typed (date_sub would coerce to DATE and
            # the join key types would diverge from the oracle's)
            (F.col("day") - F.expr(f"INTERVAL {k} DAYS")).alias("day"),
            F.col("c").alias("y"),
        )
        dx = F.col("x").cast("decimal(18,0)")
        dy = F.col("y").cast("decimal(18,0)")
        g = (
            a.join(b, "day")
            .where(F.col("type_a") != F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dx).alias("sx"),
                F.sum(dy).alias("sy"),
                F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
                F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
                F.sum((dy * dy).cast("decimal(38,0)")).alias("syy"),
            )
            .withColumn("lag", F.lit(k))
        )
        out = g if out is None else out.unionByName(g)
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return out.select(
        "type_a",
        "type_b",
        "lag",
        F.col("n").alias("n_days"),
        F.round(num / den, 6).alias("ccf"),
    ).orderBy("type_a", "type_b", "lag")


def _lead_lag_sql() -> str:
    parts = []
    for k in [0, 1, 3, 7]:
        parts.append(f"""
  SELECT a.event_type AS type_a, b.event_type AS type_b, {k} AS lag,
         COUNT(*) AS n,
         SUM(CAST(a.c AS DECIMAL(18,0))) AS sx,
         SUM(CAST(b.c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(a.c AS DECIMAL(18,0)) * CAST(b.c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(a.c AS DECIMAL(18,0)) * CAST(a.c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(b.c AS DECIMAL(18,0)) * CAST(b.c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM daily a JOIN daily b
    ON a.day = b.day - INTERVAL {k} DAY
   AND a.event_type != b.event_type
  GROUP BY 1, 2""")
    un = "\n  UNION ALL".join(parts)
    return f"""
WITH {_DENSE_DAILY_SQL}, g AS ({un}
)
SELECT type_a, type_b, lag, n AS n_days,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) AS ccf
FROM g ORDER BY type_a, type_b, lag
"""


def anomaly_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-ensemble anomaly days (the ensemble framing of
    Chandola, Banerjee & Kumar 2009's survey §9; Aggarwal 2013 ch.1 on
    model combination): a (type, day) is reported only when at least
    TWO independent closed-form detectors agree — a global z-score on
    the daily count (|z| > 2), a Tukey fence (outside Q1/Q3 +- 1.5
    IQR over the type's daily-count histogram), and a day-over-day
    spike rule (count > 2x previous day, min 100). Emits every day any
    detector flags, with the per-detector votes — the triage view; the
    pager pages at votes >= 2 (the false-positive-starved policy), and
    the vote columns make that one more filter.

    Scale shape: ONE daily rollup feeds all three detectors
    (calendar-bounded windows + one bounded histogram-rank for the
    quartiles); consensus is a row filter. No detector rescans
    events."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    dc = F.col("c").cast("decimal(18,0)")
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s").cast("double") / n
    sd = F.sqrt(F.col("s2").cast("double") / n - mu * mu)
    stats = mom.select("event_type", mu.alias("mu"), sd.alias("sd"))
    hist = daily.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wq = Window.partitionBy("event_type").orderBy("c")
    wall = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(wq)).withColumn(
        "tot", F.sum("cnt").over(wall)
    )

    def quart(frac, name):
        r = F.ceil(F.lit(frac) * F.col("tot"))
        return (
            cum.where(F.col("cum") - F.col("cnt") < r)
            .where(F.col("cum") >= r)
            .select("event_type", F.col("c").alias(name))
        )

    fences = quart(0.25, "q1").join(quart(0.75, "q3"), "event_type")
    wd = Window.partitionBy("event_type").orderBy("day")
    flagged = (
        daily.withColumn("prev", F.lag("c").over(wd))
        .join(F.broadcast(stats), "event_type")
        .join(F.broadcast(fences), "event_type")
        .select(
            "event_type",
            "day",
            "c",
            (
                F.abs(F.col("c").cast("double") - F.col("mu"))
                / F.col("sd")
                > 2.0
            ).alias("z_vote"),
            (
                (
                    F.col("c")
                    < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
                )
                | (
                    F.col("c")
                    > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
                )
            ).alias("fence_vote"),
            (
                F.col("prev").isNotNull()
                & (F.col("c") > 2 * F.col("prev"))
                & (F.col("c") >= 100)
            ).alias("spike_vote"),
        )
    )
    votes = (
        F.when(F.col("z_vote"), 1).otherwise(0)
        + F.when(F.col("fence_vote"), 1).otherwise(0)
        + F.when(F.col("spike_vote"), 1).otherwise(0)
    )
    return (
        flagged.withColumn("votes", votes)
        .where(F.col("votes") >= 1)
        .select(
            "event_type", "day", "c", "z_vote", "fence_vote",
            "spike_vote", "votes",
        )
        .orderBy("event_type", "day")
    )


ANOMALY_CONSENSUS_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), mom AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM daily GROUP BY 1
), stats AS (
  SELECT event_type, CAST(s AS DOUBLE) / n AS mu,
         sqrt(CAST(s2 AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
  FROM mom
), hist AS (
  SELECT event_type, c, COUNT(*) AS cnt FROM daily GROUP BY 1, 2
), cum AS (
  SELECT event_type, c, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS tot
  FROM hist
), q1 AS (
  SELECT event_type, c AS q1 FROM cum
  WHERE cum - cnt < CEIL(0.25 * tot) AND cum >= CEIL(0.25 * tot)
), q3 AS (
  SELECT event_type, c AS q3 FROM cum
  WHERE cum - cnt < CEIL(0.75 * tot) AND cum >= CEIL(0.75 * tot)
), flagged AS (
  SELECT daily.event_type, day, c,
         ABS(CAST(c AS DOUBLE) - mu) / sd > 2.0 AS z_vote,
         (c < q1 - 1.5 * (q3 - q1) OR c > q3 + 1.5 * (q3 - q1))
           AS fence_vote,
         (LAG(c) OVER (PARTITION BY daily.event_type ORDER BY day)
            IS NOT NULL
          AND c > 2 * LAG(c) OVER (PARTITION BY daily.event_type
                                   ORDER BY day)
          AND c >= 100) AS spike_vote
  FROM daily
  JOIN stats ON daily.event_type = stats.event_type
  JOIN q1 ON daily.event_type = q1.event_type
  JOIN q3 ON daily.event_type = q3.event_type
)
SELECT event_type, day, c, z_vote, fence_vote, spike_vote,
       (CASE WHEN z_vote THEN 1 ELSE 0 END
        + CASE WHEN fence_vote THEN 1 ELSE 0 END
        + CASE WHEN spike_vote THEN 1 ELSE 0 END) AS votes
FROM flagged
WHERE (CASE WHEN z_vote THEN 1 ELSE 0 END
       + CASE WHEN fence_vote THEN 1 ELSE 0 END
       + CASE WHEN spike_vote THEN 1 ELSE 0 END) >= 1
ORDER BY event_type, day
"""


def abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification (the Pareto analysis Dickie 1951
    formalized for inventory control): parts rank by lineitem revenue;
    the top ~80% of cumulative revenue is class A, the next 15% B, the
    tail C. Emits per-class part counts, revenue share, and the
    revenue concentration read (what share of parts carries 80% of
    revenue).

    Scale shape: the FACT table scans once into a |parts|-keyed
    revenue agg (decimal); ranking AND the cumulative share come from
    ONE fused two-phase pass (_global_rank_cumsum: range partitions +
    broadcast count/value offsets) — part SCALES with SF (r15
    verdict), so neither the sort nor the prefix sum may funnel
    through one task. The grand total is the prefix sum's final value
    (1-row agg over the persisted |parts| frame), never SUM() OVER ()."""
    li = _t(spark, sf_dir, spread=True, name="lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (_dec(F.col("l_extendedprice")) * _dec(1.0 - F.col("l_discount")))
            .cast("decimal(38,4)")
        ).alias("rev")
    )
    ranked = _global_rank_cumsum(
        rev.select(
            "l_partkey", "rev", (-F.col("rev")).alias("__negrev")
        ),
        ["__negrev", "l_partkey"],
        "rev",
    ).drop("__negrev")
    # grand total = the prefix sum's last value (rev is a sum of positive
    # prices, so max(__cum) == SUM(rev)): one pass over the persisted
    # |parts| frame instead of a second full lineitem aggregation
    total = ranked.agg(F.max("__cum").alias("__tot"))
    shared = (
        ranked
        .crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "rev",
            "rank",
            (
                F.col("__cum").cast("double") / F.col("__tot").cast("double")
            ).alias("cumshare"),
        )
    )
    cls = (
        F.when(F.col("cumshare") <= 0.80, "A")
        .when(F.col("cumshare") <= 0.95, "B")
        .otherwise("C")
    )
    tot = shared.select(F.max("rank").alias("n_parts")).limit(1)
    return (
        shared.withColumn("cls", cls)
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("rev").cast("double"), 2).alias("revenue"),
            F.round(F.max("cumshare"), 6).alias("cum_share_at_boundary"),
        )
        .crossJoin(F.broadcast(tot.withColumnRenamed("n_parts", "total_parts")))
        .select(
            "cls",
            "n_parts",
            F.round(
                F.col("n_parts").cast("double")
                / F.col("total_parts").cast("double"),
                6,
            ).alias("part_share"),
            "revenue",
            "cum_share_at_boundary",
        )
        .orderBy("cls")
    )


ABC_SQL = """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1.0 - l_discount AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS rev
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT l_partkey, rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rank
  FROM rev
), shared AS (
  SELECT l_partkey, rev, rank,
         CAST(SUM(rev) OVER (ORDER BY rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
           / CAST(SUM(rev) OVER () AS DOUBLE) AS cumshare
  FROM ranked
), cls AS (
  SELECT *,
         CASE WHEN cumshare <= 0.80 THEN 'A'
              WHEN cumshare <= 0.95 THEN 'B'
              ELSE 'C' END AS cls
  FROM shared
)
SELECT cls, COUNT(*) AS n_parts,
       round(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM rev), 6) AS part_share,
       round(CAST(SUM(rev) AS DOUBLE), 2) AS revenue,
       round(MAX(cumshare), 6) AS cum_share_at_boundary
FROM cls GROUP BY 1 ORDER BY cls
"""


def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount response slope per brand (textbook OLS on the bounded
    discount grid — the first-cut demand-response read behind price
    elasticity, Wooldridge's intro-econometrics workhorse): regress
    mean order quantity on the discount LEVEL (discounts live on a
    small fixed grid, so x is a bounded domain), slope = cov/var from
    DECIMAL moments — which brands actually move volume when
    discounted. Emits slope, intercept, r^2 per brand.

    Scale shape: one (brand, discount-level) rollup over the fact scan
    (bounded groups: |brands| x |grid|), then per-brand closed-form
    OLS over that bounded frame. The part side is pruned to
    (partkey, brand) but carries NO broadcast hint — part scales with
    SF (r15 verdict); AQE broadcasts it when it is actually small and
    shuffle-joins it scale-safely when it is not."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cell = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(
            "p_brand",
            F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        )
        .agg(
            (
                F.sum(_dec(F.col("l_quantity"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_qty")
        )
    )
    dx = F.col("disc_pct").cast("double")
    dy = F.col("mean_qty")
    g = cell.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2num = (n * F.col("sxy") - F.col("sx") * F.col("sy")) * (
        n * F.col("sxy") - F.col("sx") * F.col("sy")
    )
    r2den = (n * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return g.select(
        "p_brand",
        F.col("n").alias("n_levels"),
        F.round(slope, 6).alias("qty_per_disc_pct"),
        F.round(intercept, 6).alias("base_qty"),
        F.round(r2num / r2den, 6).alias("r2"),
    ).orderBy("p_brand")


DISCOUNT_ELASTICITY_SQL = """
WITH cell AS (
  SELECT p_brand,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS mean_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), g AS (
  SELECT p_brand, COUNT(*) AS n,
         SUM(CAST(disc_pct AS DOUBLE)) AS sx, SUM(mean_qty) AS sy,
         SUM(disc_pct * mean_qty) AS sxy,
         SUM(CAST(disc_pct AS DOUBLE) * disc_pct) AS sxx,
         SUM(mean_qty * mean_qty) AS syy
  FROM cell GROUP BY 1
)
SELECT p_brand, n AS n_levels,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
         AS qty_per_disc_pct,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS base_qty,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM g ORDER BY p_brand
"""


def chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test (Chow 1960) on each event type's
    daily-count trend at the time midpoint: did the linear
    time-vs-count relationship CHANGE between the halves (the
    regression-level question behind 'did the launch bend the
    curve')? F = ((SSR_pooled - SSR_1 - SSR_2)/k) / ((SSR_1 +
    SSR_2)/(n - 2k)), k = 2 (intercept + slope). Every SSR comes from
    closed-form OLS over DECIMAL day-index/count moments — integer x
    (day index), integer y (counts), so the moments are exact and the
    F is one double expression.

    Scale shape: calendar-bounded daily rollup; one (type, half)
    moment agg + one pooled agg; |types|-row output."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        (F.row_number().over(wd)).alias("t"),
        F.col("c"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).withColumn("second_half", F.col("t") * 2 > F.col("n"))
    dt = F.col("t").cast("decimal(18,0)")
    dc = F.col("c").cast("decimal(18,0)")

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(dt).alias("sx"),
            F.sum(dc).alias("sy"),
            F.sum((dt * dc).cast("decimal(38,0)")).alias("sxy"),
            F.sum((dt * dt).cast("decimal(38,0)")).alias("sxx"),
            F.sum((dc * dc).cast("decimal(38,0)")).alias("syy"),
        )

    def ssr():
        m = F.col("m").cast("double")
        sx = F.col("sx").cast("double")
        sy = F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx = F.col("sxx").cast("double")
        syy = F.col("syy").cast("double")
        beta_num = m * sxy - sx * sy
        beta_den = m * sxx - sx * sx
        # SSR = Syy_centered - beta * Sxy_centered
        return (syy - sy * sy / m) - (beta_num / beta_den) * (
            sxy - sx * sy / m
        )

    pooled = moments(idx, ["event_type"]).select(
        "event_type", F.col("m").alias("n"), ssr().alias("ssr_p")
    )
    halves = moments(idx, ["event_type", "second_half"]).select(
        "event_type", "second_half", ssr().alias("ssr_h")
    )
    hsum = halves.groupBy("event_type").agg(
        F.sum("ssr_h").alias("ssr_12")
    )
    j = pooled.join(hsum, "event_type")
    fstat = ((F.col("ssr_p") - F.col("ssr_12")) / 2.0) / (
        F.col("ssr_12") / (F.col("n").cast("double") - 4.0)
    )
    return j.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round("ssr_p", 4).alias("ssr_pooled"),
        F.round("ssr_12", 4).alias("ssr_split"),
        F.round(fstat, 4).alias("chow_f"),
        F.when(fstat > 3.0, "break").otherwise("stable").alias("verdict"),
    ).orderBy("event_type")


CHOW_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         c,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), flag AS (
  SELECT *, t * 2 > n AS second_half FROM idx
), pooled AS (
  SELECT event_type, COUNT(*) AS m,
         SUM(CAST(t AS DECIMAL(18,0))) AS sx,
         SUM(CAST(c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(t AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM flag GROUP BY 1
), halves AS (
  SELECT event_type, second_half, COUNT(*) AS m,
         SUM(CAST(t AS DECIMAL(18,0))) AS sx,
         SUM(CAST(c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(t AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM flag GROUP BY 1, 2
), ps AS (
  SELECT event_type, m AS n,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)
         - ((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
           * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m) AS ssr_p
  FROM pooled
), hs AS (
  SELECT event_type,
         SUM((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)
             - ((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
               * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m))
           AS ssr_12
  FROM halves GROUP BY 1
)
SELECT ps.event_type, n AS n_days,
       round(ssr_p, 4) AS ssr_pooled, round(ssr_12, 4) AS ssr_split,
       round(((ssr_p - ssr_12) / 2.0) / (ssr_12 / (n - 4.0)), 4) AS chow_f,
       CASE WHEN ((ssr_p - ssr_12) / 2.0) / (ssr_12 / (n - 4.0)) > 3.0
            THEN 'break' ELSE 'stable' END AS verdict
FROM ps JOIN hs ON ps.event_type = hs.event_type
ORDER BY ps.event_type
"""


def cooks_distance_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance (Cook 1977) of each DAY on the per-type
    daily-count trend regression: leverage h_ii = 1/n + (t - tbar)^2 /
    Sxx, D_i = e_i^2 h_ii / (p s^2 (1 - h_ii)^2) — which days distort
    the fitted trend (regression-diagnostics triage: the dates to
    exclude before reading slope claims). Emits the 3 most influential
    days per type. OLS from exact DECIMAL day-index/count moments; the
    residual and leverage are deterministic double expressions.

    Scale shape: calendar-bounded daily rollup; one per-type moment
    agg broadcast back onto the |days| frame; the top-3 pick is a rank
    window over the bounded frame."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "day", (F.row_number().over(wd)).alias("t"), "c"
    )
    dt = F.col("t").cast("decimal(18,0)")
    dc = F.col("c").cast("decimal(18,0)")
    mom = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dt).alias("sx"),
        F.sum(dc).alias("sy"),
        F.sum((dt * dc).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dt * dt).cast("decimal(38,0)")).alias("sxx"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    alpha = (sy - beta * sx) / n
    ssr = (syy - sy * sy / n) - beta * (sxy - sx * sy / n)
    consts = mom.select(
        "event_type",
        F.col("n"),
        beta.alias("beta"),
        alpha.alias("alpha"),
        (sx / n).alias("xbar"),
        (sxx - sx * sx / n).alias("sxx_c"),
        (ssr / (n - 2.0)).alias("s2"),
    )
    j = idx.join(F.broadcast(consts), "event_type")
    resid = F.col("c").cast("double") - (
        F.col("alpha") + F.col("beta") * F.col("t").cast("double")
    )
    h = (
        1.0 / F.col("n").cast("double")
        + (F.col("t").cast("double") - F.col("xbar"))
        * (F.col("t").cast("double") - F.col("xbar"))
        / F.col("sxx_c")
    )
    d = (
        resid
        * resid
        * h
        / (2.0 * F.col("s2") * (1.0 - h) * (1.0 - h))
    )
    scored = j.select(
        "event_type",
        "day",
        "c",
        F.round(resid, 4).alias("residual"),
        F.round(h, 6).alias("leverage"),
        F.round(d, 6).alias("cooks_d"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.desc(F.round(d, 6)), "day"
            )
        )
        .alias("rank"),
    )
    return scored.where(F.col("rank") <= 3).orderBy(
        "event_type", "rank"
    )


COOKS_D_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, day,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t, c
  FROM daily
), mom AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(t AS DECIMAL(18,0))) AS sx,
         SUM(CAST(c AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(t AS DECIMAL(18,0)) * CAST(t AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS syy
  FROM idx GROUP BY 1
), consts AS (
  SELECT event_type, n,
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
           / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS beta,
         (CAST(sy AS DOUBLE)
          - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) * sx)
           / n AS alpha,
         CAST(sx AS DOUBLE) / n AS xbar,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
         ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
          - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
            * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n))
           / (n - 2.0) AS s2
  FROM mom
), scored AS (
  SELECT idx.event_type, day, c,
         round(c - (alpha + beta * t), 4) AS residual,
         round(1.0 / n + (t - xbar) * (t - xbar) / sxx_c, 6) AS leverage,
         round((c - (alpha + beta * t)) * (c - (alpha + beta * t))
               * (1.0 / n + (t - xbar) * (t - xbar) / sxx_c)
               / (2.0 * s2
                  * (1.0 - (1.0 / n + (t - xbar) * (t - xbar) / sxx_c))
                  * (1.0 - (1.0 / n + (t - xbar) * (t - xbar) / sxx_c))),
               6) AS cooks_d
  FROM idx JOIN consts ON idx.event_type = consts.event_type
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY cooks_d DESC, day) AS rank
  FROM scored
)
SELECT event_type, day, c, residual, leverage, cooks_d, rank
FROM ranked WHERE rank <= 3 ORDER BY event_type, rank
"""


def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (Wald & Wolfowitz 1940) on each type's
    daily up/down moves: too FEW runs means momentum/trending, too
    MANY means oscillation — the randomness sanity check behind 'is
    this metric mean-reverting or drifting'. Day-over-day signs (ties
    drop), run count via sign-change summation over the calendar
    window, and the normal approximation z = (R - mu_R)/sigma_R with
    mu_R = 2 n1 n2 / n + 1.

    Scale shape: calendar-bounded daily rollup, one lag window, one
    |types|-row rollup — all integer counts until the final z."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("event_type").orderBy("day")
    moves = (
        daily.withColumn("prev", F.lag("c").over(wd))
        .where(F.col("prev").isNotNull() & (F.col("c") != F.col("prev")))
        .select(
            "event_type",
            "day",
            (F.col("c") > F.col("prev")).alias("up"),
        )
    )
    wm = Window.partitionBy("event_type").orderBy("day")
    runs = moves.withColumn(
        "new_run",
        F.when(
            F.lag("up").over(wm).isNull()
            | (F.lag("up").over(wm) != F.col("up")),
            1,
        ).otherwise(0),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").alias("r"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("up"), 0).otherwise(1)).alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    n = n1 + n2
    mu = 2.0 * n1 * n2 / n + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    )
    z = (F.col("r").cast("double") - mu) / F.sqrt(var)
    return agg.select(
        "event_type",
        (F.col("n1") + F.col("n2")).alias("n_moves"),
        F.col("r").alias("n_runs"),
        F.round(mu, 4).alias("expected_runs"),
        F.round(z, 4).alias("z"),
        F.when(z < -1.96, "trending")
        .when(z > 1.96, "oscillating")
        .otherwise("random")
        .alias("verdict"),
    ).orderBy("event_type")


RUNS_TEST_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), moves AS (
  SELECT event_type, day, c > prev AS up
  FROM (SELECT event_type, day, c,
               LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM daily)
  WHERE prev IS NOT NULL AND c != prev
), runs AS (
  SELECT event_type, up,
         CASE WHEN LAG(up) OVER (PARTITION BY event_type ORDER BY day)
                   IS NULL
               OR LAG(up) OVER (PARTITION BY event_type ORDER BY day)
                  != up
              THEN 1 ELSE 0 END AS new_run
  FROM moves
), agg AS (
  SELECT event_type,
         CAST(SUM(new_run) AS BIGINT) AS r,
         CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM runs GROUP BY 1
), s AS (
  SELECT event_type, n1 + n2 AS n_moves, r,
         2.0 * n1 * n2 / (n1 + n2) + 1.0 AS mu,
         (r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
         / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                   * (n1 + n2 - 1.0))) AS z
  FROM agg
)
SELECT event_type, n_moves, r AS n_runs,
       round(mu, 4) AS expected_runs, round(z, 4) AS z,
       CASE WHEN z < -1.96 THEN 'trending'
            WHEN z > 1.96 THEN 'oscillating'
            ELSE 'random' END AS verdict
FROM s ORDER BY event_type
"""


def ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box 1978) on the daily
    count series per type: Q = n (n + 2) sum_k r_k^2 / (n - k) over
    lags 1/2/3/7/14 — the 'is there ANY autocorrelation' gate that
    belongs after acf_daily's per-lag view (an ARMA-fit or
    independence claim quotes Q, not eyeballed bars). r_k from the
    same exact-integer lag-product expansion acf_daily uses.

    Scale shape: calendar-bounded daily rollup (DENSE calendar —
    zero-event days count 0, so lag k means k calendar days), five
    LEAD columns, one moment rollup, scalar Q — |types| rows."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wd = Window.partitionBy("event_type").orderBy("day")
    lags = [1, 2, 3, 7, 14]
    cols = [F.lead("c", k).over(wd).alias(f"l{k}") for k in lags]
    wide = daily.select("event_type", "c", *cols)
    dc = F.col("c").cast("decimal(18,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    ]
    for k in lags:
        lk = F.col(f"l{k}").cast("decimal(18,0)")
        aggs += [
            F.sum((dc * lk).cast("decimal(38,0)")).alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), dc)).alias(f"sh{k}"),
            F.sum(lk).alias(f"st{k}"),
            F.sum(F.when(lk.isNotNull(), 1).otherwise(0)).alias(f"m{k}"),
        ]
    g = wide.groupBy("event_type").agg(*aggs)
    n = F.col("n").cast("double")
    xbar = F.col("s").cast("double") / n
    den = F.col("s2").cast("double") - n * xbar * xbar
    q = None
    for k in lags:
        rk = (
            F.col(f"sxy{k}").cast("double")
            - xbar
            * (F.col(f"sh{k}").cast("double") + F.col(f"st{k}").cast("double"))
            + F.col(f"m{k}").cast("double") * xbar * xbar
        ) / den
        term = rk * rk / (n - F.lit(float(k)))
        q = term if q is None else q + term
    qstat = n * (n + 2.0) * q
    # chi2_{0.95, df=5} = 11.07
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(qstat, 4).alias("ljung_box_q"),
        F.when(qstat > 11.07, "autocorrelated")
        .otherwise("independent")
        .alias("verdict"),
    ).orderBy("event_type")


def _ljung_box_sql() -> str:
    lags = [1, 2, 3, 7, 14]
    leads = ",\n".join(
        f"         LEAD(c, {k}) OVER (PARTITION BY event_type ORDER BY day)"
        f" AS l{k}"
        for k in lags
    )
    lagaggs = ",\n".join(
        f"""         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(l{k} AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy{k},
         SUM(CASE WHEN l{k} IS NOT NULL
                  THEN CAST(c AS DECIMAL(18,0)) END) AS sh{k},
         SUM(CAST(l{k} AS DECIMAL(18,0))) AS st{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS m{k}"""
        for k in lags
    )
    terms = " + ".join(
        f"""((CAST(sxy{k} AS DOUBLE)
    - (CAST(s AS DOUBLE) / n) * (CAST(sh{k} AS DOUBLE) + CAST(st{k} AS DOUBLE))
    + m{k} * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
   / (CAST(s2 AS DOUBLE) - n * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)))
  * ((CAST(sxy{k} AS DOUBLE)
    - (CAST(s AS DOUBLE) / n) * (CAST(sh{k} AS DOUBLE) + CAST(st{k} AS DOUBLE))
    + m{k} * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
   / (CAST(s2 AS DOUBLE) - n * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)))
  / (n - {k}.0)"""
        for k in lags
    )
    return f"""
WITH {_DENSE_DAILY_SQL}, wide AS (
  SELECT event_type, c,
{leads}
  FROM daily
), g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2,
{lagaggs}
  FROM wide GROUP BY 1
)
SELECT event_type, n AS n_days,
       round(n * (n + 2.0) * ({terms}), 4) AS ljung_box_q,
       CASE WHEN n * (n + 2.0) * ({terms}) > 11.07
            THEN 'autocorrelated' ELSE 'independent' END AS verdict
FROM g ORDER BY event_type
"""


def kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952): do the sources'
    document-length distributions share one location? The k-group
    extension of the rank-sum test — the screen a corpus report runs
    before quoting 'source X writes longer docs'. n_chars is already
    integer, so ranks are EXACT: midranks fold per distinct value
    (the mann_whitney discipline), and the DOUBLED midrank
    2*cumprior + t + 1 is an integer, so every rank-sum runs in
    DECIMAL — exact at any corpus size (plain midrank halves would
    leave exactness at 2^52). Tie correction 1 - sum(t^3-t)/(N^3-N).

    Scale shape: one (value, source) histogram rollup; the rank
    window is ordered by the VALUE DOMAIN (distinct doc lengths — a
    data-model invariant, not corpus-sized), per-source rank sums are
    a bounded rollup, and the H assembly is |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy(
        F.col("n_chars").alias("v"), "source"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per = hist.groupBy("v").agg(F.sum("cnt").alias("t"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    td = F.col("t").cast("decimal(12,0)")
    ranked = per.select(
        "v",
        (
            2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
        ).alias("mr2"),
        (td * td * td - td).cast("decimal(38,0)").alias("tie"),
    )
    j = hist.join(ranked, "v")
    g = j.groupBy("source").agg(
        F.sum("cnt").alias("ng"),
        F.sum(
            (
                F.col("cnt").cast("decimal(18,0)")
                * F.col("mr2").cast("decimal(18,0)")
            ).cast("decimal(38,0)")
        ).alias("rs2"),
    )
    ties = ranked.agg(F.sum("tie").alias("ties"))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"), F.sum("ng").alias("n")
    ).crossJoin(F.broadcast(ties))
    jj = g.crossJoin(F.broadcast(tot))
    nn = F.col("n").cast("double")
    rbar = F.col("rs2").cast("double") / 2.0 / F.col("ng").cast("double")
    hterm = F.col("ng").cast("double") * (rbar - (nn + 1) / 2.0) * (
        rbar - (nn + 1) / 2.0
    )
    out = jj.groupBy("k", "n", "ties").agg(F.sum(hterm).alias("sh"))
    h = 12.0 / (nn * (nn + 1)) * F.col("sh")
    corr = 1.0 - F.col("ties").cast("double") / (nn * nn * nn - nn)
    return (
        jj.select(
            "source",
            F.col("ng").alias("n_docs"),
            F.round(rbar, 4).alias("mean_rank"),
        )
        .join(
            F.broadcast(
                out.select(
                    F.round(h, 4).alias("h_stat"),
                    F.round(h / corr, 4).alias("h_tie_corrected"),
                    (F.col("k") - 1).alias("df"),
                )
            )
        )
        .orderBy("source")
    )


KRUSKAL_SQL = """
WITH hist AS (
  SELECT n_chars AS v, source, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
), per AS (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS t FROM hist GROUP BY 1
), ranked AS (
  SELECT v,
         2 * COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS mr2,
         CAST(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
              * CAST(t AS DECIMAL(12,0)) - t AS DECIMAL(38,0)) AS tie
  FROM per
), g AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS ng,
         SUM(CAST(CAST(cnt AS DECIMAL(18,0)) * CAST(mr2 AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS rs2
  FROM hist JOIN ranked USING (v) GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
         (SELECT SUM(tie) FROM ranked) AS ties
  FROM g
), hsum AS (
  SELECT k, n, ties,
         SUM(CAST(ng AS DOUBLE)
             * (CAST(rs2 AS DOUBLE) / 2.0 / ng - (CAST(n AS DOUBLE) + 1) / 2.0)
             * (CAST(rs2 AS DOUBLE) / 2.0 / ng - (CAST(n AS DOUBLE) + 1) / 2.0))
           AS sh
  FROM g, tot GROUP BY 1, 2, 3
)
SELECT source, ng AS n_docs,
       round(CAST(rs2 AS DOUBLE) / 2.0 / ng, 4) AS mean_rank,
       round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sh, 4) AS h_stat,
       round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sh
             / (1.0 - CAST(ties AS DOUBLE)
                / (CAST(n AS DOUBLE) * n * n - n)), 4) AS h_tie_corrected,
       k - 1 AS df
FROM g, hsum ORDER BY source
"""


def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test (Mood 1950; the Brown-Mood k-sample form):
    does each source put the same share of documents above the GRAND
    median length? Cruder than Kruskal-Wallis but assumption-light —
    the robustness cross-check quoted next to it. The grand median is
    the EXACT lower median over the integer n_chars histogram
    (robust_source_stats discipline); the k x 2 contingency chi2
    compares observed above-counts to n_g * (above_total / N).

    Scale shape: one value-domain histogram for the median (the
    window is value-domain-bounded), one (source, above?) rollup,
    chi2 assembly on |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.orderBy("v")
    med = (
        hist.withColumn("cum", F.sum("cnt").over(wv))
        .crossJoin(
            F.broadcast(hist.agg(F.sum("cnt").alias("n")))
        )
        .where(F.col("cum") - F.col("cnt") < F.ceil(F.col("n") / 2))
        .where(F.col("cum") >= F.ceil(F.col("n") / 2))
        .select(F.col("v").alias("med"))
    )
    per = (
        docs.crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("ng"),
            F.sum(
                F.when(F.col("n_chars") > F.col("med"), 1).otherwise(0)
            ).alias("above"),
        )
    )
    tot = per.agg(
        F.sum("ng").alias("n"),
        F.sum("above").alias("above_tot"),
        F.count(F.lit(1)).alias("k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    ea = (
        F.col("ng").cast("double")
        * F.col("above_tot").cast("double")
        / F.col("n").cast("double")
    )
    eb = F.col("ng").cast("double") - ea
    oa = F.col("above").cast("double")
    ob = F.col("ng").cast("double") - oa
    cell = (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
    chi = j.groupBy("k").agg(F.sum(cell).alias("chi2"))
    return (
        j.select(
            "source",
            F.col("ng").alias("n_docs"),
            F.col("above").alias("n_above_median"),
            F.round(ea, 2).alias("expected_above"),
        )
        .join(
            F.broadcast(
                chi.select(
                    F.round("chi2", 4).alias("chi2_stat"),
                    (F.col("k") - 1).alias("df"),
                )
            )
        )
        .orderBy("source")
    )


MOOD_MEDIAN_SQL = """
WITH hist AS (
  SELECT n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY 1
), med AS (
  SELECT v AS med
  FROM (
    SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum,
           SUM(cnt) OVER () AS n
    FROM hist
  )
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), per AS (
  SELECT source, COUNT(*) AS ng,
         CAST(SUM(CASE WHEN n_chars > med THEN 1 ELSE 0 END) AS BIGINT)
           AS above
  FROM documents, med GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(above) AS BIGINT)
           AS above_tot, COUNT(*) AS k
  FROM per
), chi AS (
  SELECT k,
         SUM((above - CAST(ng AS DOUBLE) * above_tot / n)
             * (above - CAST(ng AS DOUBLE) * above_tot / n)
             / (CAST(ng AS DOUBLE) * above_tot / n)
             + ((ng - above) - (ng - CAST(ng AS DOUBLE) * above_tot / n))
               * ((ng - above) - (ng - CAST(ng AS DOUBLE) * above_tot / n))
               / (ng - CAST(ng AS DOUBLE) * above_tot / n)) AS chi2
  FROM per, tot GROUP BY 1
)
SELECT source, ng AS n_docs, above AS n_above_median,
       round(CAST(ng AS DOUBLE) * above_tot / n, 2) AS expected_above,
       round(chi2, 4) AS chi2_stat, chi.k - 1 AS df
FROM per, tot, chi ORDER BY source
"""


def jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen (Jarque & Bera 1980) on document
    length per source: JB = n/6 (S^2 + (K-3)^2 / 4) from EXACT integer
    power sums — skewness and excess kurtosis come from raw moments
    s1..s4 accumulated in DECIMAL (n_chars^4 fits DECIMAL(38,0) via
    paired DECIMAL(19,0) squares), expanded to central moments once
    per source in double. The length-distribution shape gate before a
    'mean +- sd' claim.

    Scale shape: one decimal power-sum rollup per source; |sources|
    rows of scalar math."""
    docs = _t(spark, sf_dir, "documents")
    dc = F.col("n_chars").cast("decimal(18,0)")
    p2 = (dc * dc).cast("decimal(19,0)")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s1"),
        F.sum(p2.cast("decimal(38,0)")).alias("s2"),
        F.sum((p2 * dc).cast("decimal(38,0)")).alias("s3"),
        F.sum((p2 * p2).cast("decimal(38,0)")).alias("s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - m * m
    m3 = (
        F.col("s3").cast("double") / n
        - 3 * m * F.col("s2").cast("double") / n
        + 2 * m * m * m
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4 * m * F.col("s3").cast("double") / n
        + 6 * m * m * F.col("s2").cast("double") / n
        - 3 * m * m * m * m
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2)
    jb = n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0)
    return g.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(skew, 4).alias("skewness"),
        F.round(kurt, 4).alias("kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        # chi2_{0.95, df=2} = 5.991
        F.when(jb > 5.991, "non_normal").otherwise("normal_ish")
        .alias("verdict"),
    ).orderBy("source")


JARQUE_BERA_SQL = """
WITH g AS (
  SELECT source, COUNT(*) AS n,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s1,
         SUM(CAST(CAST(CAST(n_chars AS DECIMAL(18,0))
                       * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  AS DECIMAL(38,0))) AS s2,
         SUM(CAST(CAST(CAST(n_chars AS DECIMAL(18,0))
                       * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s3,
         SUM(CAST(CAST(CAST(n_chars AS DECIMAL(18,0))
                       * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  * CAST(CAST(n_chars AS DECIMAL(18,0))
                         * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  AS DECIMAL(38,0))) AS s4
  FROM documents GROUP BY 1
), mom AS (
  SELECT source, n,
         CAST(s1 AS DOUBLE) / n AS m,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM g
), cen AS (
  SELECT source, n, r2 - m * m AS m2,
         r3 - 3 * m * r2 + 2 * m * m * m AS m3,
         r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4
  FROM mom
)
SELECT source, n AS n_docs,
       round(m3 / sqrt(m2 * m2 * m2), 4) AS skewness,
       round(m4 / (m2 * m2), 4) AS kurtosis,
       round(n / 6.0 * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
             + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0), 4)
         AS jb_stat,
       CASE WHEN n / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
                            * (m3 / sqrt(m2 * m2 * m2))
                 + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)
                 > 5.991
            THEN 'non_normal' ELSE 'normal_ish' END AS verdict
FROM cen ORDER BY source
"""


def bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity test (Bartlett 1937) of
    document length across sources: T = ((N-k) ln Sp^2 -
    sum (n_i-1) ln S_i^2) / C with the Bartlett correction C — the
    classical (normality-assuming) counterpart to the robust
    levene_variance already in the registry; quoting both is the
    textbook practice. Per-group variances come from EXACT decimal
    moments; logs run once per source on the bounded frame.

    Scale shape: one decimal moment rollup per source, a 1-row
    pooled frame, |sources| rows of scalar math."""
    docs = _t(spark, sf_dir, "documents")
    dc = F.col("n_chars").cast("decimal(18,0)")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    )
    ngd = F.col("ng").cast("double")
    # unbiased per-group variance from exact sums
    vi = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / ngd
    ) / (ngd - 1)
    per = g.select("source", "ng", vi.alias("vi"))
    tot = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum((F.col("ng") - 1).cast("double") * F.col("vi")).alias("ssw"),
        F.sum(F.log(F.col("vi")) * (F.col("ng") - 1).cast("double"))
        .alias("sumlog"),
        F.sum(1.0 / (F.col("ng") - 1).cast("double")).alias("sinv"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    sp2 = F.col("ssw") / (nd - kd)
    t = (nd - kd) * F.log(sp2) - F.col("sumlog")
    c = 1.0 + (F.col("sinv") - 1.0 / (nd - kd)) / (3.0 * (kd - 1.0))
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round(sp2, 4).alias("pooled_var"),
        F.round(t / c, 4).alias("bartlett_t"),
        (F.col("k") - 1).alias("df"),
    )


BARTLETT_SQL = """
WITH g AS (
  SELECT source, COUNT(*) AS ng,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s2
  FROM documents GROUP BY 1
), per AS (
  SELECT source, ng,
         (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / ng) / (ng - 1) AS vi
  FROM g
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
         SUM((ng - 1) * vi) AS ssw,
         SUM(ln(vi) * (ng - 1)) AS sumlog,
         SUM(1.0 / (ng - 1)) AS sinv
  FROM per
)
SELECT k AS n_groups, n AS n_obs,
       round(ssw / (n - k), 4) AS pooled_var,
       round(((CAST(n AS DOUBLE) - k) * ln(ssw / (n - k)) - sumlog)
             / (1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1.0))), 4)
         AS bartlett_t,
       k - 1 AS df
FROM tot
"""


def anova_f_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (Fisher 1925) of event value across event types:
    F = (SSB/(k-1)) / (SSW/(N-k)) over integer-floored cents (the
    levene_variance domain) — the parametric location test quoted
    next to kruskal_wallis's rank version, plus eta^2 effect size.
    All sums of squares come from EXACT decimal moments.

    Scale shape: one decimal moment rollup per type, a 1-row grand
    frame, |types| rows of scalar math."""
    ev = _t(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("decimal(18,0)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("s2"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s").alias("st"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ngd = F.col("ng").cast("double")
    gm = F.col("st").cast("double") / F.col("n").cast("double")
    ssb = F.sum(
        ngd
        * (F.col("s").cast("double") / ngd - gm)
        * (F.col("s").cast("double") / ngd - gm)
    )
    ssw = F.sum(
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / ngd
    )
    out = j.groupBy("k", "n").agg(ssb.alias("ssb"), ssw.alias("ssw"))
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    fstat = (F.col("ssb") / (kd - 1)) / (F.col("ssw") / (nd - kd))
    return out.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round("ssb", 2).alias("ss_between"),
        F.round("ssw", 2).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(
            F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6
        ).alias("eta_squared"),
    )


ANOVA_F_SQL = """
WITH g AS (
  SELECT event_type, COUNT(*) AS ng,
         SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  * CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM events GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n, SUM(s) AS st FROM g
), parts AS (
  SELECT k, n,
         SUM(CAST(ng AS DOUBLE)
             * (CAST(s AS DOUBLE) / ng - CAST(st AS DOUBLE) / n)
             * (CAST(s AS DOUBLE) / ng - CAST(st AS DOUBLE) / n)) AS ssb,
         SUM(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / ng) AS ssw
  FROM g, tot GROUP BY 1, 2
)
SELECT k AS n_groups, n AS n_obs,
       round(ssb, 2) AS ss_between, round(ssw, 2) AS ss_within,
       round((ssb / (k - 1)) / (ssw / (CAST(n AS DOUBLE) - k)), 6) AS f_stat,
       round(ssb / (ssb + ssw), 6) AS eta_squared
FROM parts
"""


def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation tau-b (Kendall 1938) between every
    pair of event types' DENSE daily-count series — the
    ordinal-association companion to lead_lag_corr's Pearson CCF
    (monotone co-movement without the linearity assumption).
    Concordant / discordant / tied day-pairs are EXACT integer counts;
    tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)) is one double per pair.

    Scale shape: the day-pair frame is |type pairs| x |days|^2 / 2 —
    calendar-bounded, never corpus-sized; counting is one rollup. The
    daily rollup and the per-pair series persist (r16): both are
    self-joined, so each used to plan its events aggregation twice."""
    ev = _t(spark, sf_dir, "events")
    daily = scoped_persist(_daily_counts_dense(ev))
    a = daily.select(
        F.col("event_type").alias("ta"), "day", F.col("c").alias("x")
    )
    b = daily.select(
        F.col("event_type").alias("tb"), "day", F.col("c").alias("y")
    )
    xy = scoped_persist(a.join(b, "day").where(F.col("ta") < F.col("tb")))
    p1 = xy.select("ta", "tb", F.col("day").alias("d1"),
                   F.col("x").alias("x1"), F.col("y").alias("y1"))
    p2 = xy.select("ta", "tb", F.col("day").alias("d2"),
                   F.col("x").alias("x2"), F.col("y").alias("y2"))
    pr = p1.join(p2, ["ta", "tb"]).where(F.col("d1") < F.col("d2"))
    sx = F.col("x2") - F.col("x1")
    sy = F.col("y2") - F.col("y1")
    g = pr.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(sx * sy > 0, 1).otherwise(0)).alias("conc"),
        F.sum(F.when(sx * sy < 0, 1).otherwise(0)).alias("disc"),
        F.sum(F.when(sx == 0, 1).otherwise(0)).alias("tx"),
        F.sum(F.when(sy == 0, 1).otherwise(0)).alias("ty"),
    )
    tau = (
        (F.col("conc") - F.col("disc")).cast("double")
        / F.sqrt(
            (F.col("n0") - F.col("tx")).cast("double")
            * (F.col("n0") - F.col("ty")).cast("double")
        )
    )
    return g.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.round(tau, 6).alias("tau_b"),
    ).orderBy("type_a", "type_b")


KENDALL_TAU_SQL = f"""
WITH {_DENSE_DAILY_SQL}, xy AS (
  SELECT a.event_type AS ta, b.event_type AS tb, a.day, a.c AS x, b.c AS y
  FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
), pr AS (
  SELECT p1.ta, p1.tb,
         p2.x - p1.x AS sx, p2.y - p1.y AS sy
  FROM xy p1 JOIN xy p2
    ON p1.ta = p2.ta AND p1.tb = p2.tb AND p1.day < p2.day
), g AS (
  SELECT ta, tb, COUNT(*) AS n0,
         CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
         CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
  FROM pr GROUP BY 1, 2
)
SELECT ta AS type_a, tb AS type_b, conc AS concordant, disc AS discordant,
       round((conc - disc) / sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 6)
         AS tau_b
FROM g ORDER BY type_a, type_b
"""


def theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope estimator (Theil 1950; Sen 1968) of each event
    type's daily-count trend: the LOWER MEDIAN of all pairwise slopes
    (c_j - c_i) / (j - i) over the dense calendar — the robust trend
    line quoted when one launch-day spike would wreck an OLS slope
    (trend_test gives the direction verdict; this gives the rate).
    Slopes are IEEE doubles of integer ratios — identical on both
    engines — and the median pick orders (slope, i, j), so ties
    resolve deterministically.

    Scale shape: the pair frame is |days|^2 / 2 per type
    (calendar-bounded); the median is a ROW_NUMBER pick over that
    bounded frame, partitioned by type — never corpus-sized. The
    indexed daily series persists (r16): it is self-joined for the
    pairwise slopes, so the events rollup used to plan twice."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wi = Window.partitionBy("event_type").orderBy("day")
    idx = scoped_persist(
        daily.select(
            "event_type",
            (F.row_number().over(wi) - 1).alias("i"),
            "c",
        )
    )
    a = idx.select("event_type", F.col("i").alias("i1"),
                   F.col("c").alias("c1"))
    b = idx.select("event_type", F.col("i").alias("i2"),
                   F.col("c").alias("c2"))
    pr = a.join(b, "event_type").where(F.col("i1") < F.col("i2")).select(
        "event_type", "i1", "i2",
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("i2") - F.col("i1")).cast("double")
        ).alias("slope"),
    )
    wm = Window.partitionBy("event_type").orderBy("slope", "i1", "i2")
    wn = Window.partitionBy("event_type")
    ranked = pr.select(
        "event_type", "slope",
        F.row_number().over(wm).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    med = ranked.where(
        F.col("rn") == F.floor((F.col("np") + 1) / 2)
    )
    return med.select(
        "event_type",
        F.col("np").alias("n_pairs"),
        F.round("slope", 6).alias("sen_slope"),
        F.when(F.col("slope") > 0, "rising")
        .when(F.col("slope") < 0, "falling")
        .otherwise("flat")
        .alias("verdict"),
    ).orderBy("event_type")


THEIL_SEN_SQL = f"""
WITH {_DENSE_DAILY_SQL}, idx AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i,
         c
  FROM daily
), pr AS (
  SELECT a.event_type, a.i AS i1, b.i AS i2,
         CAST(b.c - a.c AS DOUBLE) / (b.i - a.i) AS slope
  FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.i < b.i
), ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, i1, i2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM pr
)
SELECT event_type, np AS n_pairs, round(slope, 6) AS sen_slope,
       CASE WHEN slope > 0 THEN 'rising'
            WHEN slope < 0 THEN 'falling' ELSE 'flat' END AS verdict
FROM ranked
WHERE rn = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
ORDER BY event_type
"""


def grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-deviation outlier test (Grubbs 1950) on each
    type's dense daily counts: G = max|c - mean| / sd — is the single
    worst day statistically an outlier, and WHICH day is it? The
    argmax runs on the EXACT integer deviation |c*n - s| (no float
    compare), ties broken by earliest day; mean/sd come from decimal
    moments; the G threshold 3.0 is the fixed screen (the z
    convention of events_anomaly).

    Scale shape: one decimal moment rollup per type, one ROW_NUMBER
    argmax over the calendar-bounded daily frame, which persists
    (r16: it feeds both the moment rollup and the deviation join)."""
    ev = _t(spark, sf_dir, "events")
    daily = scoped_persist(_daily_counts_dense(ev))
    dc = F.col("c").cast("decimal(18,0)")
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    )
    j = daily.join(F.broadcast(mom), "event_type").select(
        "event_type", "day", "c", "n", "s", "s2",
        F.abs(
            (
                F.col("c").cast("decimal(18,0)")
                * F.col("n").cast("decimal(18,0)")
            ).cast("decimal(38,0)")
            - F.col("s").cast("decimal(38,0)")
        ).alias("dev"),
    )
    wa = Window.partitionBy("event_type").orderBy(
        F.desc("dev"), F.asc("day")
    )
    top = j.withColumn("rn", F.row_number().over(wa)).where(F.col("rn") == 1)
    n = F.col("n").cast("double")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / n
        )
        / (n - 1)
    )
    g = F.col("dev").cast("double") / n / sd
    return top.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("day").alias("outlier_day"),
        F.col("c").alias("outlier_count"),
        F.round(g, 4).alias("g_stat"),
        F.when(g > 3.0, "outlier").otherwise("within_range").alias("verdict"),
    ).orderBy("event_type")


GRUBBS_SQL = f"""
WITH {_DENSE_DAILY_SQL}, mom AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM daily GROUP BY 1
), j AS (
  SELECT daily.event_type, day, c, n, s, s2,
         ABS(CAST(CAST(c AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))
                  AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0))) AS dev,
         ROW_NUMBER() OVER (PARTITION BY daily.event_type
                            ORDER BY ABS(CAST(CAST(c AS DECIMAL(18,0))
                                * CAST(n AS DECIMAL(18,0)) AS DECIMAL(38,0))
                                - CAST(s AS DECIMAL(38,0))) DESC, day) AS rn
  FROM daily JOIN mom ON daily.event_type = mom.event_type
)
SELECT event_type, n AS n_days, day AS outlier_day, c AS outlier_count,
       round(CAST(dev AS DOUBLE) / n
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                    / (n - 1)), 4) AS g_stat,
       CASE WHEN CAST(dev AS DOUBLE) / n
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                        / (n - 1)) > 3.0
            THEN 'outlier' ELSE 'within_range' END AS verdict
FROM j WHERE rn = 1 ORDER BY event_type
"""


def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (Friedman 1937): treating each calendar day
    as a BLOCK and each event type as a treatment, do the types keep
    the same rank order of daily volume day after day? The repeated-
    measures cousin of kruskal_wallis — detects a consistent volume
    ordering even when absolute levels drift. Blocks use the GLOBAL
    calendar (types missing a day count 0), within-day midranks are
    EXACT via the doubled form 2*rank + ties - 1 over the k-row day
    partition, rank sums accumulate in DECIMAL, and the tie-corrected
    chi2 divides by 1 - sum(t^3 - t) / (n k (k^2 - 1)).

    Scale shape: the blocked frame is |days| x |types| — calendar-
    bounded; ranking windows run over k-row day partitions."""
    ev = _t(spark, sf_dir, "events")
    daily0 = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    types = daily0.select("event_type").distinct()
    full = (
        cal.crossJoin(F.broadcast(types))
        .join(daily0, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    wr = Window.partitionBy("day").orderBy("c")
    wt = Window.partitionBy("day", "c")
    ranked = full.select(
        "event_type", "day",
        (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).alias("mr2"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.col("mr2").cast("decimal(18,0)")).alias("rs2"),
    )
    # per-(day, c) tie group contributes t^3 - t ONCE: divide the
    # per-row sum by its own group size t
    td = F.col("t").cast("decimal(12,0)")
    ties = ranked.select(
        ((td * td * td - td) / td).cast("decimal(38,0)").alias("tt")
    ).agg(F.sum("tt").alias("ties"))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"), F.max("nb").alias("n")
    ).crossJoin(F.broadcast(ties))
    j = g.crossJoin(F.broadcast(tot))
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    rj = F.col("rs2").cast("double") / 2.0
    chi = j.groupBy("k", "n", "ties").agg(
        (
            12.0 / (nd * kd * (kd + 1)) * F.sum(rj * rj)
            - 3.0 * nd * (kd + 1)
        ).alias("chi2_raw")
    )
    corr = 1.0 - F.col("ties").cast("double") / (
        F.col("n").cast("double")
        * F.col("k").cast("double")
        * (
            F.col("k").cast("double") * F.col("k").cast("double") - 1
        )
    )
    return (
        j.select(
            "event_type",
            F.col("nb").alias("n_days"),
            F.round(rj / F.col("nb").cast("double"), 4).alias("mean_rank"),
        )
        .join(
            F.broadcast(
                chi.select(
                    F.round("chi2_raw", 4).alias("chi2_stat"),
                    F.round(F.col("chi2_raw") / corr, 4)
                    .alias("chi2_tie_corrected"),
                    (F.col("k") - 1).alias("df"),
                )
            )
        )
        .orderBy("event_type")
    )


FRIEDMAN_SQL = """
WITH daily0 AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), span_ AS (
  SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events
), cal AS (
  SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span_
), types AS (
  SELECT DISTINCT event_type FROM daily0
), full_ AS (
  SELECT types.event_type, cal.day, COALESCE(daily0.c, 0) AS c
  FROM cal CROSS JOIN types
  LEFT JOIN daily0 ON daily0.event_type = types.event_type
                  AND daily0.day = cal.day
), ranked AS (
  SELECT event_type, day,
         2 * RANK() OVER (PARTITION BY day ORDER BY c)
           + COUNT(*) OVER (PARTITION BY day, c) - 1 AS mr2,
         COUNT(*) OVER (PARTITION BY day, c) AS t
  FROM full_
), g AS (
  SELECT event_type, COUNT(*) AS nb,
         SUM(CAST(mr2 AS DECIMAL(18,0))) AS rs2
  FROM ranked GROUP BY 1
), ties AS (
  SELECT SUM(CAST((CAST(t AS DECIMAL(12,0)) * t * t - t) / t
                  AS DECIMAL(38,0))) AS ties
  FROM ranked
), tot AS (
  SELECT COUNT(*) AS k, CAST(MAX(nb) AS BIGINT) AS n FROM g
), chi AS (
  SELECT k, n, ties,
         12.0 / (CAST(n AS DOUBLE) * k * (k + 1))
           * SUM((CAST(rs2 AS DOUBLE) / 2.0) * (CAST(rs2 AS DOUBLE) / 2.0))
           - 3.0 * CAST(n AS DOUBLE) * (k + 1) AS chi2_raw
  FROM g, tot, ties GROUP BY 1, 2, 3
)
SELECT event_type, nb AS n_days,
       round(CAST(rs2 AS DOUBLE) / 2.0 / nb, 4) AS mean_rank,
       round(chi2_raw, 4) AS chi2_stat,
       round(chi2_raw / (1.0 - CAST(ties AS DOUBLE)
             / (CAST(n AS DOUBLE) * k
                * (CAST(k AS DOUBLE) * k - 1))), 4) AS chi2_tie_corrected,
       k - 1 AS df
FROM g, chi ORDER BY event_type
"""


def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association (Cramér 1946) between document source
    and language: the normalized chi-square V = sqrt(chi2 / (N *
    (min(r,c) - 1))) — 'how strongly does source determine language'
    on a 0..1 scale, the effect size a mixture report quotes next to
    the raw contingency table. Expected counts R_i C_j / N assemble
    from exact integer marginals; chi2 sums over the bounded
    |sources| x |langs| cell frame.

    Scale shape: one (source, lang) rollup; marginal rollups;
    |cells| rows of scalar math."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("o")
    )
    rt = cells.groupBy("source").agg(F.sum("o").alias("ri"))
    ct = cells.groupBy("lang").agg(F.sum("o").alias("cj"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("source").alias("r"),
        F.countDistinct("lang").alias("c"),
    )
    j = (
        cells.join(rt, "source")
        .join(ct, "lang")
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("ri").cast("double")
        * F.col("cj").cast("double")
        / F.col("n").cast("double")
    )
    dev = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    out = j.groupBy("n", "r", "c").agg(F.sum(dev).alias("chi2"))
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("n").cast("double")
            * (F.least(F.col("r"), F.col("c")) - 1).cast("double")
        )
    )
    return out.select(
        F.col("n").alias("n_docs"),
        F.col("r").alias("n_sources"),
        F.col("c").alias("n_langs"),
        F.round("chi2", 4).alias("chi2_stat"),
        F.round(v, 6).alias("cramers_v"),
    )


CRAMERS_V_SQL = """
WITH cells AS (
  SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2
), rt AS (
  SELECT source, CAST(SUM(o) AS BIGINT) AS ri FROM cells GROUP BY 1
), ct AS (
  SELECT lang, CAST(SUM(o) AS BIGINT) AS cj FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         COUNT(DISTINCT source) AS r, COUNT(DISTINCT lang) AS c
  FROM cells
), dev AS (
  SELECT n, r, c,
         SUM((o - CAST(ri AS DOUBLE) * cj / n)
             * (o - CAST(ri AS DOUBLE) * cj / n)
             / (CAST(ri AS DOUBLE) * cj / n)) AS chi2
  FROM cells JOIN rt USING (source) JOIN ct USING (lang), tot
  GROUP BY 1, 2, 3
)
SELECT n AS n_docs, r AS n_sources, c AS n_langs,
       round(chi2, 4) AS chi2_stat,
       round(sqrt(chi2 / (CAST(n AS DOUBLE) * (LEAST(r, c) - 1))), 6)
         AS cramers_v
FROM dev
"""


_SPECTRAL_PERIODS = [7, 14, 30]


def _trig_tables():
    """Integer-quantized DFT coefficients round(trig(2 pi k / p) * 1e6)
    for k in 0..p-1, per period. Generated ONCE in Python and inlined
    as literals on BOTH engines, so the two sides use byte-identical
    coefficients — no cross-libm cos() drift can enter the parity."""
    import math

    cos_t, sin_t = {}, {}
    for p in _SPECTRAL_PERIODS:
        cos_t[p] = [
            round(math.cos(2 * math.pi * k / p) * 1e6) for k in range(p)
        ]
        sin_t[p] = [
            round(math.sin(2 * math.pi * k / p) * 1e6) for k in range(p)
        ]
    return cos_t, sin_t


def spectral_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power at the calendar periods 7 / 14 / 30 days for
    each event type's dense daily counts (Schuster 1898's periodogram;
    the Fisher 1929 g-test setting): P(p) = (A_p^2 + B_p^2) / n^2 with
    A_p = sum c_t cos(2 pi t / p), B_p likewise — 'is there a weekly
    (or biweekly, or monthly) cycle, and which period dominates'.
    The trig coefficients are INTEGER-QUANTIZED (x1e6) lookup tables
    generated once in Python and inlined on both engines, so A/B
    accumulate as EXACT decimal sums — float summation order and libm
    cos() differences never touch the result; the only doubles are
    the final normalization per (type, period).

    Scale shape: the daily frame is calendar-bounded; each period adds
    one modular-phase column and one decimal rollup; output is
    |types| x 3 rows."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wi = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "c", (F.row_number().over(wi) - 1).alias("t")
    )
    cos_t, sin_t = _trig_tables()
    out = None
    for p in _SPECTRAL_PERIODS:
        cosarr = F.array(*[F.lit(v) for v in cos_t[p]])
        sinarr = F.array(*[F.lit(v) for v in sin_t[p]])
        ph = (F.col("t") % p).cast("int")
        dc = F.col("c").cast("decimal(18,0)")
        g = (
            idx.select(
                "event_type",
                dc.alias("dc"),
                F.element_at(cosarr, ph + 1).cast("decimal(8,0)").alias("cq"),
                F.element_at(sinarr, ph + 1).cast("decimal(8,0)").alias("sq"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("dc") * F.col("cq")).cast("decimal(38,0)"))
                .alias("a"),
                F.sum((F.col("dc") * F.col("sq")).cast("decimal(38,0)"))
                .alias("b"),
            )
            .withColumn("period", F.lit(p))
        )
        out = g if out is None else out.unionByName(g)
    n = F.col("n").cast("double")
    ad = F.col("a").cast("double") / 1e6
    bd = F.col("b").cast("double") / 1e6
    power = (ad * ad + bd * bd) / (n * n)
    res = out.select(
        "event_type", "period", F.col("n").alias("n_days"),
        F.round(power, 4).alias("power")
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.desc("power"), "period"
    )
    return (
        res.withColumn(
            "dominant", F.row_number().over(wbest) == 1
        )
        .orderBy("event_type", "period")
    )


def _spectral_sql() -> str:
    cos_t, sin_t = _trig_tables()
    parts = []
    for p in _SPECTRAL_PERIODS:
        ca = ", ".join(str(v) for v in cos_t[p])
        sa = ", ".join(str(v) for v in sin_t[p])
        parts.append(f"""
  SELECT event_type, {p} AS period, COUNT(*) AS n,
         SUM(CAST(CAST(c AS DECIMAL(18,0))
                  * CAST(([{ca}])[CAST(t % {p} AS INTEGER) + 1]
                         AS DECIMAL(8,0)) AS DECIMAL(38,0))) AS a,
         SUM(CAST(CAST(c AS DECIMAL(18,0))
                  * CAST(([{sa}])[CAST(t % {p} AS INTEGER) + 1]
                         AS DECIMAL(8,0)) AS DECIMAL(38,0))) AS b
  FROM idx GROUP BY 1""")
    un = "\n  UNION ALL".join(parts)
    return f"""
WITH {_DENSE_DAILY_SQL}, idx AS (
  SELECT event_type, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
  FROM daily
), g AS ({un}
), res AS (
  SELECT event_type, period, n AS n_days,
         round((CAST(a AS DOUBLE) / 1e6 * (CAST(a AS DOUBLE) / 1e6)
                + CAST(b AS DOUBLE) / 1e6 * (CAST(b AS DOUBLE) / 1e6))
               / (CAST(n AS DOUBLE) * n), 4) AS power
  FROM g
)
SELECT event_type, period, n_days, power,
       ROW_NUMBER() OVER (PARTITION BY event_type
                          ORDER BY power DESC, period) = 1 AS dominant
FROM res ORDER BY event_type, period
"""


def turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test (Kendall & Stuart's classic
    form; Bienaymé 1874 for the expectation) on each type's dense
    daily counts: count strict local peaks and troughs; under
    randomness E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90, so z =
    (T-E)/sd reads 'too few turns' (trending/sticky) vs 'too many'
    (oscillating). Plateaus (ties) are not turning points —
    documented, same rule both engines. All counts are exact
    integers; z is one double per type.

    Scale shape: one lag/lead window over the calendar-bounded daily
    frame, one rollup."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wd = Window.partitionBy("event_type").orderBy("day")
    t = daily.select(
        "event_type", "c",
        F.lag("c").over(wd).alias("pv"),
        F.lead("c").over(wd).alias("nx"),
    ).where(F.col("pv").isNotNull() & F.col("nx").isNotNull())
    is_tp = (
        ((F.col("pv") < F.col("c")) & (F.col("c") > F.col("nx")))
        | ((F.col("pv") > F.col("c")) & (F.col("c") < F.col("nx")))
    )
    g = t.groupBy("event_type").agg(
        (F.count(F.lit(1)) + 2).alias("n"),
        F.sum(F.when(is_tp, 1).otherwise(0)).alias("tp"),
    )
    n = F.col("n").cast("double")
    e = 2.0 * (n - 2) / 3.0
    v = (16.0 * n - 29.0) / 90.0
    z = (F.col("tp").cast("double") - e) / F.sqrt(v)
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("tp").alias("turning_points"),
        F.round(e, 4).alias("expected"),
        F.round(z, 4).alias("z"),
        F.when(z < -1.96, "trending")
        .when(z > 1.96, "oscillating")
        .otherwise("random_walkish")
        .alias("verdict"),
    ).orderBy("event_type")


TURNING_POINTS_SQL = f"""
WITH {_DENSE_DAILY_SQL}, t AS (
  SELECT event_type, c,
         LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS pv,
         LEAD(c) OVER (PARTITION BY event_type ORDER BY day) AS nx
  FROM daily
), g AS (
  SELECT event_type, COUNT(*) + 2 AS n,
         CAST(SUM(CASE WHEN (pv < c AND c > nx) OR (pv > c AND c < nx)
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM t WHERE pv IS NOT NULL AND nx IS NOT NULL GROUP BY 1
)
SELECT event_type, n AS n_days, tp AS turning_points,
       round(2.0 * (n - 2) / 3.0, 4) AS expected,
       round((tp - 2.0 * (n - 2) / 3.0)
             / sqrt((16.0 * n - 29.0) / 90.0), 4) AS z,
       CASE WHEN (tp - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0) < -1.96 THEN 'trending'
            WHEN (tp - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0) > 1.96 THEN 'oscillating'
            ELSE 'random_walkish' END AS verdict
FROM g ORDER BY event_type
"""


def unit_value_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-value price index per brand (the Drobisch 1871 unit-value
    form used in trade statistics): UVI = (sum p2 / sum q2) /
    (sum p1 / sum q1) between the first and second half of the
    shipping calendar — did a brand's realized per-unit price move?
    All four sums accumulate in DECIMAL; the index is one double
    ratio-of-ratios per brand, so no float-order ambiguity.

    Scale shape: one fact scan with the part join (NO broadcast hint —
    part scales with SF; AQE decides), one (brand, half) decimal
    rollup, |brands| rows of assembly."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bounds = li.agg(
        F.min("l_shipdate").cast("long").alias("t0"),
        F.max("l_shipdate").cast("long").alias("t1"),
    )
    half = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .crossJoin(F.broadcast(bounds))
        .select(
            "p_brand",
            (
                F.col("l_shipdate").cast("long") * 2
                <= F.col("t0") + F.col("t1")
            ).alias("h1"),
            _dec(F.col("l_extendedprice")).alias("p"),
            _dec(F.col("l_quantity")).alias("q"),
        )
    )
    g = half.groupBy("p_brand").agg(
        F.sum(F.when(F.col("h1"), F.col("p"))).alias("p1"),
        F.sum(F.when(F.col("h1"), F.col("q"))).alias("q1"),
        F.sum(F.when(~F.col("h1"), F.col("p"))).alias("p2"),
        F.sum(F.when(~F.col("h1"), F.col("q"))).alias("q2"),
        F.sum(F.when(F.col("h1"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("h1"), 1).otherwise(0)).alias("n2"),
    )
    uv1 = F.col("p1").cast("double") / F.col("q1").cast("double")
    uv2 = F.col("p2").cast("double") / F.col("q2").cast("double")
    return g.select(
        "p_brand",
        F.col("n1").alias("n_lines_h1"),
        F.col("n2").alias("n_lines_h2"),
        F.round(uv1, 4).alias("unit_value_h1"),
        F.round(uv2, 4).alias("unit_value_h2"),
        F.round(uv2 / uv1, 6).alias("uvi"),
    ).orderBy("p_brand")


UNIT_VALUE_SQL = """
WITH bounds AS (
  SELECT epoch(MIN(l_shipdate)) AS t0, epoch(MAX(l_shipdate)) AS t1
  FROM lineitem
), half AS (
  SELECT p_brand, epoch(l_shipdate) * 2 <= t0 + t1 AS h1,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
         CAST(l_quantity AS DECIMAL(18,2)) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey, bounds
), g AS (
  SELECT p_brand,
         SUM(CASE WHEN h1 THEN p END) AS p1,
         SUM(CASE WHEN h1 THEN q END) AS q1,
         SUM(CASE WHEN NOT h1 THEN p END) AS p2,
         SUM(CASE WHEN NOT h1 THEN q END) AS q2,
         CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN NOT h1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM half GROUP BY 1
)
SELECT p_brand, n1 AS n_lines_h1, n2 AS n_lines_h2,
       round(CAST(p1 AS DOUBLE) / CAST(q1 AS DOUBLE), 4) AS unit_value_h1,
       round(CAST(p2 AS DOUBLE) / CAST(q2 AS DOUBLE), 4) AS unit_value_h2,
       round((CAST(p2 AS DOUBLE) / CAST(q2 AS DOUBLE))
             / (CAST(p1 AS DOUBLE) / CAST(q1 AS DOUBLE)), 6) AS uvi
FROM g ORDER BY p_brand
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (the standard growth-accounting
    triangle): users cohort by the week of their FIRST event; for
    each (cohort week, week offset) the count of cohort users active
    that week, and retention vs the cohort size — the churn view a
    product team reads weekly. Exact distinct-user counts only.

    Scale shape: one per-user min rollup (users are many and small),
    one distinct (user, week) rollup, then a |weeks|^2-bounded
    cohort x offset matrix."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    j = active.join(first, "user_id").select(
        "user_id",
        "cw",
        (F.datediff(F.col("week"), F.col("cw")) / 7).cast("long")
        .alias("offset"),
    )
    mat = j.groupBy("cw", "offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    base = mat.where(F.col("offset") == 0).select(
        "cw", F.col("n_users").alias("cohort_size")
    )
    return (
        mat.join(base, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("offset").alias("week_offset"),
            "n_users",
            "cohort_size",
            F.round(
                F.col("n_users").cast("double")
                / F.col("cohort_size").cast("double"),
                4,
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


COHORT_RETENTION_SQL = """
WITH first_ AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
  FROM events GROUP BY 1
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), j AS (
  SELECT active.user_id, cw,
         CAST(date_diff('day', cw, week) / 7 AS BIGINT) AS offset_
  FROM active JOIN first_ ON active.user_id = first_.user_id
), mat AS (
  SELECT cw, offset_, COUNT(DISTINCT user_id) AS n_users
  FROM j GROUP BY 1, 2
), base AS (
  SELECT cw, n_users AS cohort_size FROM mat WHERE offset_ = 0
)
SELECT mat.cw AS cohort_week, offset_ AS week_offset, n_users, cohort_size,
       round(CAST(n_users AS DOUBLE) / cohort_size, 4) AS retention
FROM mat JOIN base ON mat.cw = base.cw
ORDER BY cohort_week, week_offset
"""


def interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpurchase-time profile per market segment (the
    recency-frequency backbone behind RFM and CLV models): the gap in
    days between a customer's consecutive orders, rolled up per
    segment — mean (decimal-exact), EXACT lower median and p90 via
    the histogram-rank discipline (gap days are a bounded integer
    domain), and the share of gaps over 90 days (the churn-risk
    read).

    Scale shape: one per-customer lag window (customers are many and
    small), the customer-dimension join carries NO broadcast hint
    (customer scales with SF), then a (segment, gap) histogram
    bounded by the calendar domain."""
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        od.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"),
                F.lag("o_orderdate").over(wo),
            ).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    hist = gaps.groupBy("c_mktsegment", "gap").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wg = Window.partitionBy("c_mktsegment").orderBy("gap")
    wall = Window.partitionBy("c_mktsegment")
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(wg))
        .withColumn("n", F.sum("cnt").over(wall))
    )
    med = cum.where(
        (F.col("cum") - F.col("cnt") < F.ceil(F.col("n") / 2))
        & (F.col("cum") >= F.ceil(F.col("n") / 2))
    ).select("c_mktsegment", F.col("gap").alias("median_gap"))
    p90 = cum.where(
        (F.col("cum") - F.col("cnt") < F.ceil(F.col("n") * 0.9))
        & (F.col("cum") >= F.ceil(F.col("n") * 0.9))
    ).select("c_mktsegment", F.col("gap").alias("p90_gap"))
    mom = gaps.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap").cast("decimal(18,0)")).alias("s"),
        F.sum(F.when(F.col("gap") > 90, 1).otherwise(0)).alias("over90"),
    )
    return (
        mom.join(med, "c_mktsegment")
        .join(p90, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_gaps",
            F.round(
                F.col("s").cast("double") / F.col("n_gaps").cast("double"), 4
            ).alias("mean_gap_days"),
            "median_gap",
            "p90_gap",
            F.round(
                F.col("over90").cast("double")
                / F.col("n_gaps").cast("double"),
                4,
            ).alias("share_over_90d"),
        )
        .orderBy("c_mktsegment")
    )


INTERPURCHASE_SQL = """
WITH gaps AS (
  SELECT c_mktsegment, gap FROM (
    SELECT o_custkey,
           date_diff('day',
                     LAG(o_orderdate) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey),
                     o_orderdate) AS gap
    FROM orders
  ) g JOIN customer ON o_custkey = c_custkey
  WHERE gap IS NOT NULL
), hist AS (
  SELECT c_mktsegment, gap, COUNT(*) AS cnt FROM gaps GROUP BY 1, 2
), cum AS (
  SELECT c_mktsegment, gap, cnt,
         SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY gap) AS cum,
         SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n
  FROM hist
), med AS (
  SELECT c_mktsegment, gap AS median_gap FROM cum
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), p90 AS (
  SELECT c_mktsegment, gap AS p90_gap FROM cum
  WHERE cum - cnt < CAST(CEIL(n * 0.9) AS BIGINT)
    AND cum >= CAST(CEIL(n * 0.9) AS BIGINT)
), mom AS (
  SELECT c_mktsegment, COUNT(*) AS n_gaps,
         SUM(CAST(gap AS DECIMAL(18,0))) AS s,
         CAST(SUM(CASE WHEN gap > 90 THEN 1 ELSE 0 END) AS BIGINT) AS over90
  FROM gaps GROUP BY 1
)
SELECT c_mktsegment, n_gaps,
       round(CAST(s AS DOUBLE) / n_gaps, 4) AS mean_gap_days,
       median_gap, p90_gap,
       round(CAST(over90 AS DOUBLE) / n_gaps, 4) AS share_over_90d
FROM mom JOIN med USING (c_mktsegment) JOIN p90 USING (c_mktsegment)
ORDER BY c_mktsegment
"""


def collocation_tscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation strength by t-score (Church & Hanks 1990; the
    t-score column of Manning & Schütze ch.5): t = (c(a,b) -
    c(a)c(b)/N) / sqrt(c(a,b)) for bigrams seen >= 20 times, top 20 —
    the FREQUENT-collocation ranking that complements bigram_pmi's
    rare-pair bias (PMI surfaces 'hapax glued pairs'; t-score surfaces
    'of the'-class workhorses worth a tokenizer merge). Counts are
    exact integers; one double per surviving bigram.

    Scale shape: identical to bigram_pmi — one bigram rollup, one
    unigram rollup, NO broadcast hint on the Heaps-growing unigram
    table, TakeOrdered caps the output."""
    docs = _t(spark, sf_dir, "documents")
    # NOT persisted (r16): interleaved persist A/Bs measured both the
    # token-array cache and the count-frame caches net-negative locally
    toks = docs.select(text.tokens(F.col("text")).alias("a")).where(
        F.size("a") >= 2
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("z")
    ).select("z.w1", "z.w2")
    bg = bg.where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uni = toks.select(F.explode("a").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cw")
    )
    totals = c12.agg(F.sum("c").cast("double").alias("n_bg"))
    t = (
        F.col("c").cast("double")
        - F.col("c1").cast("double")
        * F.col("c2").cast("double")
        / F.col("n_bg")
    ) / F.sqrt(F.col("c").cast("double"))
    return (
        c12.where(F.col("c") >= 20)
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .withColumnRenamed("cw", "c1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .withColumnRenamed("cw", "c2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c").alias("pair_count"),
            F.round(t, 4).alias("t_score"),
        )
        .orderBy(F.desc("t_score"), "w1", "w2")
        .limit(20)
    )


COLLOCATION_T_SQL = r"""
WITH tok AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), bg AS (
  SELECT u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS cw FROM (SELECT unnest(a) AS w FROM tok) GROUP BY 1
), tot AS (
  SELECT CAST((SELECT count(*) FROM bg) AS DOUBLE) AS n_bg
)
SELECT c12.w1, c12.w2, c12.c AS pair_count,
       round((c - CAST(u1.cw AS DOUBLE) * u2.cw / n_bg) / sqrt(CAST(c AS DOUBLE)), 4)
         AS t_score
FROM c12 JOIN uni u1 ON c12.w1 = u1.w JOIN uni u2 ON c12.w2 = u2.w, tot
WHERE c >= 20
ORDER BY t_score DESC, w1, w2 LIMIT 20
"""


def word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word burstiness of the top-30 vocabulary (Church & Gale
    1995, "Poisson mixtures"; Katz 1996): the variance-to-mean ratio
    of a word's per-document count — VMR ~ 1 means the word sprinkles
    Poisson-like (function words), VMR >> 1 means it clumps into
    bursts (topical words). The content/function split a stopword
    list approximates, measured instead of assumed. Documents missing
    the word contribute ZERO counts: var folds from exact decimal
    sum(c), sum(c^2) over occurrences plus the document total, so the
    zeros are exact without materializing them.

    Scale shape: one (doc, word) rollup, a rank-LIMITed top-30 vocab
    (bounded broadcast — the vocab_oov cap discipline), one decimal
    rollup per surviving word."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    per = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        per.groupBy("w")
        .agg(F.sum("c").alias("total"))
        .orderBy(F.desc("total"), "w")
        .limit(30)
    )
    dc = F.col("c").cast("decimal(18,0)")
    g = (
        per.join(F.broadcast(vocab), "w")
        .groupBy("w", "total")
        .agg(
            F.count(F.lit(1)).alias("docs_with"),
            F.sum(dc).alias("s"),
            F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
        )
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    j = g.crossJoin(F.broadcast(nd))
    n = F.col("n_docs").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    vmr = var / mean
    return j.select(
        "w",
        F.col("total").alias("corpus_count"),
        "docs_with",
        F.round(mean, 6).alias("mean_per_doc"),
        F.round(vmr, 4).alias("vmr"),
        F.when(vmr > 2.0, "bursty").otherwise("poisson_like")
        .alias("verdict"),
    ).orderBy(F.desc("corpus_count"), "w")


WORD_BURSTINESS_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), per AS (
  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
), vocab AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS total FROM per GROUP BY 1
  ORDER BY total DESC, w LIMIT 30
), g AS (
  SELECT per.w, total, COUNT(*) AS docs_with,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM per JOIN vocab ON per.w = vocab.w GROUP BY 1, 2
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT w, total AS corpus_count, docs_with,
       round(CAST(s AS DOUBLE) / n_docs, 6) AS mean_per_doc,
       round((CAST(s2 AS DOUBLE) / n_docs
              - (CAST(s AS DOUBLE) / n_docs) * (CAST(s AS DOUBLE) / n_docs))
             / (CAST(s AS DOUBLE) / n_docs), 4) AS vmr,
       CASE WHEN (CAST(s2 AS DOUBLE) / n_docs
                  - (CAST(s AS DOUBLE) / n_docs) * (CAST(s AS DOUBLE) / n_docs))
                 / (CAST(s AS DOUBLE) / n_docs) > 2.0
            THEN 'bursty' ELSE 'poisson_like' END AS verdict
FROM g, nd ORDER BY corpus_count DESC, w
"""


def rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 recall (Lin 2004) of every candidate document
    against a fixed 5-doc reference set (doc_id < 5): the clipped
    n-gram overlap eval a summarization/contamination screen runs —
    here surfacing the 20 candidates that best 'cover' a reference.
    Overlaps are exact integer sums of min(c_cand, c_ref) per n-gram;
    recall divides by the reference's n-gram total once per pair.

    Scale shape: the reference side is a key-lookup (doc_id < 5) —
    bounded broadcast; candidates join it by n-gram (map-side against
    the tiny ref vocab), roll up per (cand, ref) pair, and
    TakeOrdered keeps 20."""
    docs = _t(spark, sf_dir, "documents")
    # NOT persisted (r16): interleaved persist A/Bs measured every
    # caching variant (tok arrays, gram counts, both) net-negative to
    # neutral locally — the string-keyed cache encode costs more than
    # the re-derivation it saves at bench scale; left as planned
    tok = docs.select(
        "doc_id", text.tokens(F.col("text")).alias("a")
    ).where(F.size("a") >= 2)
    uni = tok.select("doc_id", F.explode("a").alias("g")).groupBy(
        "doc_id", "g"
    ).agg(F.count(F.lit(1)).alias("c"))
    bi = tok.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("g"),
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))

    def recall(grams, name):
        ref = grams.where(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("ref_id"),
            "g",
            F.col("c").alias("cr"),
        )
        reftot = ref.groupBy("ref_id").agg(F.sum("cr").alias("rt"))
        cand = grams.where(F.col("doc_id") >= 5)
        ov = (
            cand.join(F.broadcast(ref), "g")
            .groupBy("doc_id", "ref_id")
            .agg(F.sum(F.least(F.col("c"), F.col("cr"))).alias("ov"))
            .join(F.broadcast(reftot), "ref_id")
            .select(
                "doc_id",
                "ref_id",
                F.round(
                    F.col("ov").cast("double") / F.col("rt").cast("double"),
                    6,
                ).alias(name),
            )
        )
        return ov

    r1 = recall(uni, "rouge1_recall")
    r2 = recall(bi, "rouge2_recall")
    return (
        r1.join(r2, ["doc_id", "ref_id"], "left")
        .select(
            "doc_id",
            "ref_id",
            "rouge1_recall",
            F.coalesce("rouge2_recall", F.lit(0.0)).alias("rouge2_recall"),
        )
        .orderBy(F.desc("rouge1_recall"), "doc_id", "ref_id")
        .limit(20)
    )


ROUGE_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), uni AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(a) AS g FROM tok) GROUP BY 1, 2
), bi AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, u.z[1] || ' ' || u.z[2] AS g
        FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:]))
                           AS z) u)
  GROUP BY 1, 2
), r1 AS (
  SELECT cand.doc_id, ref.doc_id AS ref_id,
         CAST(SUM(LEAST(cand.c, ref.c)) AS BIGINT) AS ov
  FROM uni cand JOIN uni ref ON cand.g = ref.g
  WHERE ref.doc_id < 5 AND cand.doc_id >= 5
  GROUP BY 1, 2
), rt1 AS (
  SELECT doc_id AS ref_id, CAST(SUM(c) AS BIGINT) AS rt FROM uni
  WHERE doc_id < 5 GROUP BY 1
), r2 AS (
  SELECT cand.doc_id, ref.doc_id AS ref_id,
         CAST(SUM(LEAST(cand.c, ref.c)) AS BIGINT) AS ov
  FROM bi cand JOIN bi ref ON cand.g = ref.g
  WHERE ref.doc_id < 5 AND cand.doc_id >= 5
  GROUP BY 1, 2
), rt2 AS (
  SELECT doc_id AS ref_id, CAST(SUM(c) AS BIGINT) AS rt FROM bi
  WHERE doc_id < 5 GROUP BY 1
)
SELECT r1.doc_id, r1.ref_id,
       round(CAST(r1.ov AS DOUBLE) / rt1.rt, 6) AS rouge1_recall,
       COALESCE(round(CAST(r2.ov AS DOUBLE) / rt2.rt, 6), 0.0)
         AS rouge2_recall
FROM r1
JOIN rt1 ON r1.ref_id = rt1.ref_id
LEFT JOIN r2 ON r1.doc_id = r2.doc_id AND r1.ref_id = r2.ref_id
LEFT JOIN rt2 ON r2.ref_id = rt2.ref_id
ORDER BY rouge1_recall DESC, r1.doc_id, r1.ref_id LIMIT 20
"""


def self_bleu_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU diversity probe (Zhu et al. 2018, "Texygen") over a
    bounded 100-doc sample (doc_id < 100): for each sample doc, the
    mean modified unigram and bigram precision against every OTHER
    sample doc — high self-BLEU = the corpus repeats itself (mode
    collapse in generated data, boilerplate in crawled data). The
    per-doc means are EXACT rationals: mean p_n = sum_b overlap_b /
    ((n_sample - 1) * len_a), so only integer sums cross rows; the
    top-20 most self-similar docs are reported.

    Scale shape: the sample is a key-lookup (doc_id < 100), every
    join is within the bounded sample vocabulary, and the pair rollup
    is |sample|^2-bounded."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.where(F.col("doc_id") < 100).select(
        "doc_id", "source", text.tokens(F.col("text")).alias("a")
    ).where(F.size("a") >= 2)
    nsamp = tok.agg(F.count(F.lit(1)).alias("ns"))

    def pairsum(grams, lname):
        ga = grams.select(
            F.col("doc_id").alias("da"), "g", F.col("c").alias("ca")
        )
        gb = grams.select(
            F.col("doc_id").alias("db"), "g", F.col("c").alias("cb")
        )
        ov = (
            ga.join(gb, "g")
            .where(F.col("da") != F.col("db"))
            .groupBy("da", "db")
            .agg(F.sum(F.least(F.col("ca"), F.col("cb"))).alias("ov"))
        )
        tot = grams.groupBy("doc_id").agg(F.sum("c").alias(lname))
        s = ov.groupBy("da").agg(F.sum("ov").alias(f"s_{lname}"))
        return s, tot

    uni = tok.select(
        "doc_id", F.explode("a").alias("g")
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    bi = tok.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("g"),
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    s1, t1 = pairsum(uni, "len1")
    s2, t2 = pairsum(bi, "len2")
    base = tok.select("doc_id", "source")
    j = (
        base.join(s1.withColumnRenamed("da", "doc_id"), "doc_id", "left")
        .join(t1, "doc_id", "left")
        .join(s2.withColumnRenamed("da", "doc_id"), "doc_id", "left")
        .join(t2, "doc_id", "left")
        .crossJoin(F.broadcast(nsamp))
    )
    p1 = F.coalesce(F.col("s_len1"), F.lit(0)).cast("double") / (
        (F.col("ns") - 1).cast("double") * F.col("len1").cast("double")
    )
    p2 = F.coalesce(F.col("s_len2"), F.lit(0)).cast("double") / (
        (F.col("ns") - 1).cast("double") * F.col("len2").cast("double")
    )
    bleu = F.sqrt(p1 * p2)
    return (
        j.select(
            "doc_id",
            "source",
            F.round(p1, 6).alias("mean_p1"),
            F.round(p2, 6).alias("mean_p2"),
            F.round(bleu, 6).alias("self_bleu"),
        )
        .orderBy(F.desc("self_bleu"), "doc_id")
        .limit(20)
    )


SELF_BLEU_SQL = r"""
WITH tok AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE doc_id < 100
    AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), ns AS (
  SELECT COUNT(*) AS ns FROM tok
), uni AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(a) AS g FROM tok) GROUP BY 1, 2
), bi AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, u.z[1] || ' ' || u.z[2] AS g
        FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:]))
                           AS z) u)
  GROUP BY 1, 2
), s1 AS (
  SELECT a.doc_id, CAST(SUM(x.ov) AS BIGINT) AS s_len1
  FROM (SELECT DISTINCT doc_id FROM uni) a
  JOIN (SELECT ga.doc_id AS da, gb.doc_id AS db,
               SUM(LEAST(ga.c, gb.c)) AS ov
        FROM uni ga JOIN uni gb ON ga.g = gb.g AND ga.doc_id != gb.doc_id
        GROUP BY 1, 2) x ON a.doc_id = x.da
  GROUP BY 1
), t1 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len1 FROM uni GROUP BY 1
), s2 AS (
  SELECT a.doc_id, CAST(SUM(x.ov) AS BIGINT) AS s_len2
  FROM (SELECT DISTINCT doc_id FROM bi) a
  JOIN (SELECT ga.doc_id AS da, gb.doc_id AS db,
               SUM(LEAST(ga.c, gb.c)) AS ov
        FROM bi ga JOIN bi gb ON ga.g = gb.g AND ga.doc_id != gb.doc_id
        GROUP BY 1, 2) x ON a.doc_id = x.da
  GROUP BY 1
), t2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len2 FROM bi GROUP BY 1
)
SELECT tok.doc_id, source,
       round(COALESCE(s_len1, 0) / ((ns - 1.0) * len1), 6) AS mean_p1,
       round(COALESCE(s_len2, 0) / ((ns - 1.0) * len2), 6) AS mean_p2,
       round(sqrt(COALESCE(s_len1, 0) / ((ns - 1.0) * len1)
                  * (COALESCE(s_len2, 0) / ((ns - 1.0) * len2))), 6)
         AS self_bleu
FROM tok
LEFT JOIN s1 ON tok.doc_id = s1.doc_id
LEFT JOIN t1 ON tok.doc_id = t1.doc_id
LEFT JOIN s2 ON tok.doc_id = s2.doc_id
LEFT JOIN t2 ON tok.doc_id = t2.doc_id, ns
ORDER BY self_bleu DESC, tok.doc_id LIMIT 20
"""


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) of the
    (source, lang) quasi-identifier groups against the sensitive
    attribute 'document length decile': the Earth Mover's Distance
    between each group's bin distribution and the global one, EMD =
    sum_{i<m} |cumsum(p - q)| / (m - 1) over m = 10 ordered bins —
    the release gate that k_anonymity_suppress and
    l_diversity_release don't cover (a group can be k-anonymous and
    l-diverse yet still leak through a SKEWED sensitive
    distribution). The cumulative gap runs integer cross-multiplied
    (|cum_g * N - cum_all * n_g|, the wasserstein_drift discipline),
    one division per group.

    Scale shape: one (group, bin) rollup bounded by |groups| x 10;
    the global bin frame broadcasts; cumulative windows run over the
    bounded bin frame."""
    docs = _t(spark, sf_dir, "documents")
    binned = docs.select(
        "source", "lang",
        F.least(F.lit(9), F.floor(F.col("n_chars") / 500)).alias("bin"),
    )
    per = binned.groupBy("source", "lang", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    allb = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("ca"))
    # dense 0..9 bins per group so cumulative gaps line up
    bins = spark.range(10).select(F.col("id").alias("bin"))
    groups = per.select("source", "lang").distinct()
    dense = (
        groups.crossJoin(F.broadcast(bins))
        .join(per, ["source", "lang", "bin"], "left")
        .join(F.broadcast(allb), "bin", "left")
        .select(
            "source", "lang", "bin",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        )
    )
    wg = (
        Window.partitionBy("source", "lang")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("source", "lang")
    cum = dense.select(
        "source", "lang", "bin",
        F.sum("c").over(wg).alias("cg"),
        F.sum("ca").over(wg).alias("call"),
        F.sum("c").over(wall).alias("ng"),
        F.sum("ca").over(wall).alias("n"),
    ).where(F.col("bin") < 9)
    gap = F.abs(
        (
            F.col("cg").cast("decimal(19,0)")
            * F.col("n").cast("decimal(19,0)")
            - F.col("call").cast("decimal(19,0)")
            * F.col("ng").cast("decimal(19,0)")
        ).cast("decimal(38,0)")
    )
    g = cum.groupBy("source", "lang", "ng", "n").agg(
        F.sum(gap).alias("s")
    )
    emd = F.col("s").cast("double") / (
        F.col("ng").cast("double") * F.col("n").cast("double") * 9.0
    )
    return g.select(
        "source", "lang",
        F.col("ng").alias("n_docs"),
        F.round(emd, 6).alias("emd"),
        F.when(emd > 0.2, "fails_t_closeness").otherwise("ok")
        .alias("verdict"),
    ).orderBy("source", "lang")


T_CLOSENESS_SQL = """
WITH binned AS (
  SELECT source, lang,
         LEAST(9, CAST(FLOOR(n_chars / 500.0) AS BIGINT)) AS bin
  FROM documents
), per AS (
  SELECT source, lang, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2, 3
), allb AS (
  SELECT bin, COUNT(*) AS ca FROM binned GROUP BY 1
), bins AS (
  SELECT UNNEST(range(10)) AS bin
), groups_ AS (
  SELECT DISTINCT source, lang FROM per
), dense AS (
  SELECT g.source, g.lang, b.bin,
         COALESCE(per.c, 0) AS c, COALESCE(allb.ca, 0) AS ca
  FROM groups_ g CROSS JOIN bins b
  LEFT JOIN per ON per.source = g.source AND per.lang = g.lang
               AND per.bin = b.bin
  LEFT JOIN allb ON allb.bin = b.bin
), cum AS (
  SELECT source, lang, bin,
         SUM(c) OVER w AS cg, SUM(ca) OVER w AS call,
         SUM(c) OVER (PARTITION BY source, lang) AS ng,
         SUM(ca) OVER (PARTITION BY source, lang) AS n
  FROM dense
  WINDOW w AS (PARTITION BY source, lang ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), g AS (
  SELECT source, lang, CAST(ng AS BIGINT) AS ng, CAST(n AS BIGINT) AS n,
         SUM(ABS(CAST(CAST(cg AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                      - CAST(call AS DECIMAL(19,0))
                        * CAST(ng AS DECIMAL(19,0)) AS DECIMAL(38,0)))) AS s
  FROM cum WHERE bin < 9 GROUP BY 1, 2, 3, 4
)
SELECT source, lang, ng AS n_docs,
       round(CAST(s AS DOUBLE) / (CAST(ng AS DOUBLE) * n * 9.0), 6) AS emd,
       CASE WHEN CAST(s AS DOUBLE) / (CAST(ng AS DOUBLE) * n * 9.0) > 0.2
            THEN 'fails_t_closeness' ELSE 'ok' END AS verdict
FROM g ORDER BY source, lang
"""


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (Brier 1950; Murphy
    1973): reliability - resolution + uncertainty over 10 confidence
    bins, using the ece_calibration scorer (rational sigmoid
    tok/(tok+50) vs the curated-source label) — the diagnosis behind
    a bad ECE: is the model MISCALIBRATED (high reliability term) or
    merely UNINFORMATIVE (low resolution)? Per-bin averages follow
    the ece precedent; the identity REL - RES + UNC equals the binned
    Brier score by construction.

    Scale shape: one map-only score pass, one 10-bin rollup, scalar
    assembly on the bounded bin frame."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("double")
    conf = tok / (tok + F.lit(50.0))
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    per = (
        docs.select(
            F.least(F.lit(9), F.floor(conf * 10).cast("int")).alias("bin"),
            conf.alias("conf"),
            pos.cast("int").alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("conf").alias("pk"),
            F.avg("p").alias("ok"),
            F.sum("p").alias("np"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("nn"), F.sum("np").alias("npos")
    )
    j = per.crossJoin(F.broadcast(tot))
    obar = F.col("npos").cast("double") / F.col("nn").cast("double")
    nk = F.col("n").cast("double")
    out = j.groupBy("nn", "npos").agg(
        F.sum(
            nk * (F.col("pk") - F.col("ok")) * (F.col("pk") - F.col("ok"))
        ).alias("rel_s"),
        F.sum(nk * (F.col("ok") - obar) * (F.col("ok") - obar)).alias(
            "res_s"
        ),
    )
    nn = F.col("nn").cast("double")
    ob = F.col("npos").cast("double") / nn
    rel = F.col("rel_s") / nn
    res = F.col("res_s") / nn
    unc = ob * (1 - ob)
    return out.select(
        F.col("nn").alias("n_docs"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("brier_binned"),
    )


BRIER_DECOMP_SQL = r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                        AS DOUBLE) END AS tok,
         source IN ('src0','src1','src2','src3') AS pos
  FROM documents
), s AS (
  SELECT LEAST(9, CAST(floor(tok / (tok + 50.0) * 10) AS INT)) AS bin,
         tok / (tok + 50.0) AS conf,
         CASE WHEN pos THEN 1 ELSE 0 END AS p
  FROM t
), per AS (
  SELECT bin, COUNT(*) AS n, AVG(conf) AS pk, AVG(p) AS ok,
         CAST(SUM(p) AS BIGINT) AS np
  FROM s GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(np) AS BIGINT) AS npos
  FROM per
), agg AS (
  SELECT nn, npos,
         SUM(n * (pk - ok) * (pk - ok)) AS rel_s,
         SUM(n * (ok - CAST(npos AS DOUBLE) / nn)
             * (ok - CAST(npos AS DOUBLE) / nn)) AS res_s
  FROM per, tot GROUP BY 1, 2
)
SELECT nn AS n_docs,
       round(rel_s / nn, 6) AS reliability,
       round(res_s / nn, 6) AS resolution,
       round((CAST(npos AS DOUBLE) / nn) * (1 - CAST(npos AS DOUBLE) / nn), 6)
         AS uncertainty,
       round(rel_s / nn - res_s / nn
             + (CAST(npos AS DOUBLE) / nn)
               * (1 - CAST(npos AS DOUBLE) / nn), 6) AS brier_binned
FROM agg
"""


def gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains / lift table (the direct-marketing standard —
    see Berry & Linoff's classic treatment): rank documents by the
    deterministic quality score (whitespace token count, the ece
    scorer's core), split into VALUE-GROUP deciles (every doc with
    the same score lands in one decile, decided by the group's
    starting rank — the rfm_segments discipline, never NTILE), and
    report per decile the positive-label capture, cumulative gain,
    and lift — 'how deep must the screen go to catch 80% of the good
    docs'. All counts exact; the decile windows run over the 10-row
    frame.

    Scale shape: one (score value) histogram rollup (bounded value
    domain), cumulative windows over it, one bounded join back."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("long")
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    scored = docs.select(tok.alias("v"), pos.cast("int").alias("p"))
    hist = scored.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("p").alias("np")
    )
    # high score first: decile by the value group's starting rank
    wv = Window.orderBy(F.desc("v"))
    tot = hist.agg(F.sum("cnt").alias("n"), F.sum("np").alias("npos"))
    dec = (
        hist.withColumn("cum", F.sum("cnt").over(wv))
        .crossJoin(F.broadcast(tot))
        .select(
            "v", "cnt", "np",
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("cum") - F.col("cnt")) * 10 / F.col("n")
                ).cast("int"),
            ).alias("decile"),
            "n", "npos",
        )
    )
    per = dec.groupBy("decile", "n", "npos").agg(
        F.sum("cnt").alias("n_docs"), F.sum("np").alias("n_pos")
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    rate = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    overall = F.col("npos").cast("double") / F.col("n").cast("double")
    return per.select(
        "decile",
        "n_docs",
        "n_pos",
        F.round(rate, 4).alias("pos_rate"),
        F.round(
            F.sum("n_pos").over(wd).cast("double")
            / F.col("npos").cast("double"),
            4,
        ).alias("cum_gain"),
        F.round(rate / overall, 4).alias("lift"),
    ).orderBy("decile")


GAINS_TABLE_SQL = r"""
WITH scored AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS v,
         CASE WHEN source IN ('src0','src1','src2','src3')
              THEN 1 ELSE 0 END AS p
  FROM documents
), hist AS (
  SELECT v, COUNT(*) AS cnt, CAST(SUM(p) AS BIGINT) AS np
  FROM scored GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(np) AS BIGINT) AS npos
  FROM hist
), dec AS (
  SELECT v, cnt, np,
         LEAST(9, CAST(FLOOR((cum - cnt) * 10.0 / n) AS INT)) AS decile,
         n, npos
  FROM (SELECT v, cnt, np, SUM(cnt) OVER (ORDER BY v DESC) AS cum
        FROM hist), tot
), per AS (
  SELECT decile, n, npos,
         CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM(np) AS BIGINT) AS n_pos
  FROM dec GROUP BY 1, 2, 3
)
SELECT decile, n_docs, n_pos,
       round(CAST(n_pos AS DOUBLE) / n_docs, 4) AS pos_rate,
       round(CAST(SUM(n_pos) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / npos, 4) AS cum_gain,
       round((CAST(n_pos AS DOUBLE) / n_docs)
             / (CAST(npos AS DOUBLE) / n), 4) AS lift
FROM per ORDER BY decile
"""


def mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (Matthews 1975; the
    class-imbalance-robust single number Chicco & Jurman 2020 argue
    should headline) for the length-score classifier at the 0.5
    confidence threshold vs the curated-source label: MCC = (TP*TN -
    FP*FN) / sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)) — complements
    classifier_prf's precision/recall with the symmetric view. The
    numerator runs in DECIMAL (counts are ~1e10 at 100 TB, their
    products need 38 digits); the denominator multiplies four sqrt()
    factors so nothing overflows double.

    Scale shape: one map-only score pass, ONE 4-cell rollup, scalar
    math."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("double")
    conf = tok / (tok + F.lit(50.0))
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    cells = docs.select(
        (conf > 0.5).alias("pred"), pos.alias("actual")
    ).agg(
        F.sum(F.when(F.col("pred") & F.col("actual"), 1).otherwise(0))
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("actual"), 1).otherwise(0))
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("actual"), 1).otherwise(0))
        .alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("actual"), 1).otherwise(0))
        .alias("tn"),
    )
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    num = (
        (d("tp") * d("tn")).cast("decimal(38,0)")
        - (d("fp") * d("fn")).cast("decimal(38,0)")
    ).cast("double")
    den = (
        F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
    )
    return cells.select(
        "tp", "fp", "fn", "tn",
        F.round(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
            6,
        ).alias("recall"),
        F.round(num / den, 6).alias("mcc"),
    )


MCC_SQL = r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                        AS DOUBLE) END AS tok,
         source IN ('src0','src1','src2','src3') AS actual
  FROM documents
), cells AS (
  SELECT
    CAST(SUM(CASE WHEN tok / (tok + 50.0) > 0.5 AND actual
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN tok / (tok + 50.0) > 0.5 AND NOT actual
             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN tok / (tok + 50.0) <= 0.5 AND actual
             THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN tok / (tok + 50.0) <= 0.5 AND NOT actual
             THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM t
)
SELECT tp, fp, fn, tn,
       round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
       round(CAST(CAST(CAST(tp AS DECIMAL(19,0)) * CAST(tn AS DECIMAL(19,0))
                       AS DECIMAL(38,0))
                  - CAST(CAST(fp AS DECIMAL(19,0)) * CAST(fn AS DECIMAL(19,0))
                         AS DECIMAL(38,0)) AS DOUBLE)
             / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
                * sqrt(CAST(tn + fp AS DOUBLE))
                * sqrt(CAST(tn + fn AS DOUBLE))), 6) AS mcc
FROM cells
"""


def host_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the host graph (Newman 2002, eq. 4):
    the Pearson correlation of endpoint degrees over all edges — do
    hubs link to hubs (assortative, r > 0) or to leaves
    (disassortative, r < 0, the scale-free-web signature)? Uses the
    host_triangles edge set (source-hub + hub-hub co-citation,
    undirected, deduplicated); each undirected edge contributes BOTH
    orientations, the standard convention. All moments are EXACT
    decimal sums of integer degrees.

    Scale shape: degrees are one rollup over the edge list; the
    moment pass is one more rollup over |edges| rows — no window, no
    pair blowup."""
    docs = _t(spark, sf_dir, "documents")
    hubs = [
        F.concat(
            F.lit("h"),
            F.pmod(F.col("doc_id") * p, F.lit(37)).cast("string"),
            F.lit(".example.org"),
        )
        for p in _PR_PRIMES
    ]
    raw = _host_edges(docs).unionAll(
        docs.select(hubs[0].alias("src"), hubs[1].alias("dst"))
    ).unionAll(docs.select(hubs[1].alias("src"), hubs[2].alias("dst")))
    edges = (
        raw.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("host"))
        .unionAll(edges.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("host").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("host").alias("v"), F.col("d").alias("dv"))
    both = edges.join(du, "u").join(dv, "v")
    ends = both.select(
        F.col("du").alias("x"), F.col("dv").alias("y")
    ).unionAll(both.select(F.col("dv").alias("x"), F.col("du").alias("y")))
    dx = F.col("x").cast("decimal(18,0)")
    dy = F.col("y").cast("decimal(18,0)")
    g = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(dx).alias("sx"),
        F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
        F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    num = m * F.col("sxy").cast("double") - sx * sx
    den = m * F.col("sxx").cast("double") - sx * sx
    r = num / den
    return g.select(
        (F.col("m") / 2).alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
        F.when(r > 0.05, "assortative")
        .when(r < -0.05, "disassortative")
        .otherwise("neutral")
        .alias("verdict"),
    )


def _host_assortativity_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    return f"""
WITH raw AS (
  SELECT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[0]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[2]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
), edges AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src != dst
), deg AS (
  SELECT host, COUNT(*) AS d FROM (
    SELECT u AS host FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY 1
), ends AS (
  SELECT d1.d AS x, d2.d AS y
  FROM edges JOIN deg d1 ON edges.u = d1.host
             JOIN deg d2 ON edges.v = d2.host
  UNION ALL
  SELECT d2.d, d1.d
  FROM edges JOIN deg d1 ON edges.u = d1.host
             JOIN deg d2 ON edges.v = d2.host
), g AS (
  SELECT COUNT(*) AS m,
         SUM(CAST(x AS DECIMAL(18,0))) AS sx,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy
  FROM ends
)
SELECT m / 2 AS n_edges,
       round((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6)
         AS assortativity,
       CASE WHEN (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 > 0.05 THEN 'assortative'
            WHEN (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 < -0.05 THEN 'disassortative'
            ELSE 'neutral' END AS verdict
FROM g
"""


def host_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-equivalence screen for source hosts (the Jaccard
    link-prediction feature of Liben-Nowell & Kleinberg 2003, applied
    to neighbor PROFILES): for every pair of source hosts, the
    Jaccard overlap of their hub-neighbor sets — two sources whose
    docs cite the same hubs serve interchangeable content (the mirror
    / syndication signal at host granularity). Counts are exact
    integers; |union| = |Na| + |Nb| - |intersection|.

    Scale shape: source-host neighbor profiles live in the bounded
    hub vocabulary; the pair frame is |sources|^2 / 2 — never
    corpus-sized (the profile rollup is the only pass over edges)."""
    docs = _t(spark, sf_dir, "documents")
    prof = _host_edges(docs).distinct()
    sz = prof.groupBy("src").agg(F.count(F.lit(1)).alias("nsz"))
    a = prof.select(F.col("src").alias("sa"), "dst")
    b = prof.select(F.col("src").alias("sb"), "dst")
    inter = (
        a.join(b, "dst")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ja = sz.select(F.col("src").alias("sa"), F.col("nsz").alias("na"))
    jb = sz.select(F.col("src").alias("sb"), F.col("nsz").alias("nb"))
    out = inter.join(ja, "sa").join(jb, "sb")
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    ).cast("double")
    return out.select(
        "sa", "sb",
        F.col("i").alias("common_hubs"),
        F.round(jac, 6).alias("jaccard"),
    ).orderBy(F.desc("jaccard"), "sa", "sb")


def _host_neighbor_jaccard_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    return f"""
WITH prof AS (
  SELECT DISTINCT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
), sz AS (
  SELECT src, COUNT(*) AS nsz FROM prof GROUP BY 1
), inter AS (
  SELECT a.src AS sa, b.src AS sb, COUNT(*) AS i
  FROM prof a JOIN prof b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
)
SELECT sa, sb, i AS common_hubs,
       round(CAST(i AS DOUBLE) / (za.nsz + zb.nsz - i), 6) AS jaccard
FROM inter JOIN sz za ON sa = za.src JOIN sz zb ON sb = zb.src
ORDER BY jaccard DESC, sa, sb
"""


def spc_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar / R control chart (Shewhart 1931; the A2/D4
    constants for subgroup size 7 from the standard SPC tables) on
    weekly subgroups of each type's dense daily counts: center line,
    UCL/LCL = Xbar +- A2(7) * Rbar, range limits D4(7) * Rbar, and
    the count of out-of-control weeks — the ops-review chart, with
    the week as the rational subgroup. Only COMPLETE 7-day weeks
    enter (documented); subgroup sums and ranges are exact integers.

    Scale shape: a calendar-bounded weekly rollup, one per-type
    reduce, one bounded re-join to count violations."""
    ev = _t(spark, sf_dir, "events")
    daily = _daily_counts_dense(ev)
    wi = Window.partitionBy("event_type").orderBy("day")
    wk = daily.select(
        "event_type", "c",
        F.floor((F.row_number().over(wi) - 1) / 7).alias("wkid"),
    )
    sub = wk.groupBy("event_type", "wkid").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("c").alias("s"),
        (F.max("c") - F.min("c")).alias("r"),
    ).where(F.col("nd") == 7)
    per = sub.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum(F.col("s").cast("decimal(18,0)")).alias("ss"),
        F.sum(F.col("r").cast("decimal(18,0)")).alias("sr"),
    )
    nw = F.col("n_weeks").cast("double")
    xbar = F.col("ss").cast("double") / (7.0 * nw)
    rbar = F.col("sr").cast("double") / nw
    # A2 = 0.419, D4 = 1.924 for n = 7
    ucl = xbar + 0.419 * rbar
    lcl = xbar - 0.419 * rbar
    lim = per.select(
        "event_type", "n_weeks",
        xbar.alias("xbar"), rbar.alias("rbar"),
        ucl.alias("ucl"), lcl.alias("lcl"),
    )
    ooc = (
        sub.join(F.broadcast(lim), "event_type")
        .where(
            (F.col("s").cast("double") / 7.0 > F.col("ucl"))
            | (F.col("s").cast("double") / 7.0 < F.col("lcl"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_ooc"))
    )
    return (
        lim.join(ooc, "event_type", "left")
        .select(
            "event_type", "n_weeks",
            F.round("xbar", 4).alias("xbar"),
            F.round("rbar", 4).alias("rbar"),
            F.round("ucl", 4).alias("ucl"),
            F.round("lcl", 4).alias("lcl"),
            F.coalesce("n_ooc", F.lit(0)).alias("n_out_of_control"),
        )
        .orderBy("event_type")
    )


SPC_SQL = f"""
WITH {_DENSE_DAILY_SQL}, wk AS (
  SELECT event_type, c,
         CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY day) - 1) / 7.0) AS BIGINT) AS wkid
  FROM daily
), sub AS (
  SELECT event_type, wkid, COUNT(*) AS nd,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(MAX(c) - MIN(c) AS BIGINT) AS r
  FROM wk GROUP BY 1, 2
  HAVING COUNT(*) = 7
), per AS (
  SELECT event_type, COUNT(*) AS n_weeks,
         SUM(CAST(s AS DECIMAL(18,0))) AS ss,
         SUM(CAST(r AS DECIMAL(18,0))) AS sr
  FROM sub GROUP BY 1
), lim AS (
  SELECT event_type, n_weeks,
         CAST(ss AS DOUBLE) / (7.0 * n_weeks) AS xbar,
         CAST(sr AS DOUBLE) / n_weeks AS rbar,
         CAST(ss AS DOUBLE) / (7.0 * n_weeks)
           + 0.419 * CAST(sr AS DOUBLE) / n_weeks AS ucl,
         CAST(ss AS DOUBLE) / (7.0 * n_weeks)
           - 0.419 * CAST(sr AS DOUBLE) / n_weeks AS lcl
  FROM per
), ooc AS (
  SELECT sub.event_type, COUNT(*) AS n_ooc
  FROM sub JOIN lim ON sub.event_type = lim.event_type
  WHERE CAST(s AS DOUBLE) / 7.0 > ucl OR CAST(s AS DOUBLE) / 7.0 < lcl
  GROUP BY 1
)
SELECT lim.event_type, n_weeks,
       round(xbar, 4) AS xbar, round(rbar, 4) AS rbar,
       round(ucl, 4) AS ucl, round(lcl, 4) AS lcl,
       COALESCE(n_ooc, 0) AS n_out_of_control
FROM lim LEFT JOIN ooc ON lim.event_type = ooc.event_type
ORDER BY lim.event_type
"""


def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimator (Horvitz & Thompson 1952) of the
    corpus character total from a size-proportional deterministic
    sample: inclusion probability pi_i = min(1, n_chars / 5000),
    membership decided by an integer Knuth-hash coin (doc_id *
    2654435761 mod 2^32, compared CROSS-MULTIPLIED so no float enters
    selection), estimate = sum over sampled docs of n_chars / pi_i.
    Because n_chars / min(1, n_chars/5000) is 5000 for small docs and
    n_chars for large ones, the estimate is an EXACT integer sum —
    the design-unbiasedness demo a sampling pipeline ships with its
    weighted exports (the weighted_sample_aes companion).

    Scale shape: one map-only membership pass, one decimal rollup,
    one 1-row truth join."""
    docs = _t(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296))
    # include iff h / 2^32 < n_chars / 5000  (cross-multiplied)
    small = F.col("n_chars") < 5000
    inc = (h * 5000) < (
        F.lit(4294967296) * F.least(F.lit(5000), F.col("n_chars"))
    )
    samp = docs.select(
        "n_chars", small.alias("small"), inc.alias("inc")
    ).where(F.col("inc"))
    est = samp.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(
            F.when(F.col("small"), F.lit(5000)).otherwise(F.col("n_chars"))
            .cast("decimal(18,0)")
        ).alias("est"),
    )
    truth = docs.agg(
        F.sum(F.col("n_chars").cast("decimal(18,0)")).alias("truth"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    j = est.crossJoin(F.broadcast(truth))
    rel = (
        F.col("est").cast("double") - F.col("truth").cast("double")
    ) / F.col("truth").cast("double")
    return j.select(
        "n_docs",
        "n_sampled",
        F.col("est").cast("long").alias("ht_estimate"),
        F.col("truth").cast("long").alias("true_total"),
        F.round(rel, 6).alias("rel_error"),
    )


HORVITZ_SQL = """
WITH samp AS (
  SELECT n_chars, n_chars < 5000 AS small
  FROM documents
  WHERE ((doc_id * 2654435761) % 4294967296) * 5000
        < 4294967296 * LEAST(5000, n_chars)
), est AS (
  SELECT COUNT(*) AS n_sampled,
         SUM(CAST(CASE WHEN small THEN 5000 ELSE n_chars END
                  AS DECIMAL(18,0))) AS est
  FROM samp
), truth AS (
  SELECT SUM(CAST(n_chars AS DECIMAL(18,0))) AS truth, COUNT(*) AS n_docs
  FROM documents
)
SELECT n_docs, n_sampled,
       CAST(est AS BIGINT) AS ht_estimate,
       CAST(truth AS BIGINT) AS true_total,
       round((CAST(est AS DOUBLE) - CAST(truth AS DOUBLE))
             / CAST(truth AS DOUBLE), 6) AS rel_error
FROM est, truth
"""


def capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate (Chapman 1951, the
    bias-corrected Lincoln-Petersen) of the active-user population:
    'capture' = users seen in the first half of the time span,
    'recapture' = users seen in the second; N-hat = (nA+1)(nB+1) /
    (m+1) - 1 where m is the overlap — the estimator an analytics
    team uses when either half alone undercounts. Compared against
    the true distinct-user count (computable here; not at a real
    registry gap). Exact integer counts; one division.

    Scale shape: per-user half-membership is one rollup (users are
    many and small); everything after is 1-row math."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (F.col("ts").cast("long") * 2 <= F.col("t0") + F.col("t1"))
            .alias("h1"),
        )
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("h1"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(~F.col("h1"), 1).otherwise(0)).alias("in_b"),
        )
    )
    g = per.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum("in_a").alias("na"),
        F.sum("in_b").alias("nb"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("m"),
    )
    nhat = (
        (F.col("na") + 1).cast("double")
        * (F.col("nb") + 1).cast("double")
        / (F.col("m") + 1).cast("double")
        - 1
    )
    return g.select(
        F.col("na").alias("captured"),
        F.col("nb").alias("recaptured"),
        F.col("m").alias("overlap"),
        F.round(nhat, 2).alias("chapman_estimate"),
        F.col("n_true").alias("true_users"),
        F.round(
            (nhat - F.col("n_true").cast("double"))
            / F.col("n_true").cast("double"),
            6,
        ).alias("rel_error"),
    )


CAPTURE_RECAPTURE_SQL = """
WITH bounds AS (
  SELECT epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1 FROM events
), per AS (
  SELECT user_id,
         MAX(CASE WHEN epoch(ts) * 2 <= t0 + t1 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN epoch(ts) * 2 > t0 + t1 THEN 1 ELSE 0 END) AS in_b
  FROM events, bounds GROUP BY 1
), g AS (
  SELECT COUNT(*) AS n_true,
         CAST(SUM(in_a) AS BIGINT) AS na,
         CAST(SUM(in_b) AS BIGINT) AS nb,
         CAST(SUM(in_a * in_b) AS BIGINT) AS m
  FROM per
)
SELECT na AS captured, nb AS recaptured, m AS overlap,
       round((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1, 2)
         AS chapman_estimate,
       n_true AS true_users,
       round(((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1 - n_true)
             / n_true, 6) AS rel_error
FROM g
"""


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # Driver-window ordering: CORRECTNESS_r{N} covers the FIRST 50
    # entries. Rotated for r16 exactly as the r15 comment (and the r15
    # verdict's item 1) pinned: leads are the FOUR r14-new spill
    # queries (centroid_distances, seasonal_decompose,
    # kaplan_meier_retention, cuped_adjustment — never
    # driver-certified, positions 51-54 in the r15 ordering) followed
    # by the 46 r15-new operators (mann_whitney_u .. ljung_box —
    # oracle-verified locally at both SFs in r15 but never in a
    # driver window). 4 + 46 = 50 EXACTLY. After the window: the
    # r15-certified 50 (freshest certs, CORRECTNESS_r15), then the
    # r14-, r12-, r13-certified blocks unchanged. The 28 NEW r16
    # operators append at the very end (kruskal_wallis ..
    # capture_recapture); the r17 window should take those 28 plus
    # the FIRST 22 of the r12-certified block (good_turing_mass ..
    # minhash_lsh_dups — by then the stalest certs, five rounds old):
    # 28 + 22 = 50 EXACTLY. Rotate them to the front at r17 start and
    # update this comment with the r18 plan.
    # --- r14-new SPILL (4): lead the r16 window ---
    "centroid_distances": (centroid_distances, CENTROID_DIST_SQL),
    "seasonal_decompose": (seasonal_decompose, SEASONAL_SQL),
    "kaplan_meier_retention": (kaplan_meier_retention, KAPLAN_MEIER_SQL),
    "cuped_adjustment": (cuped_adjustment, CUPED_SQL),
    # --- NEW r15 (46): complete the r16 window ---
    "mann_whitney_u": (mann_whitney_u, MANN_WHITNEY_SQL),
    "levene_variance": (levene_variance, LEVENE_SQL),
    "wilson_ci": (wilson_ci, WILSON_CI_SQL),
    "benford_screen": (benford_screen, BENFORD_SQL),
    "page_hinkley": (page_hinkley, PAGE_HINKLEY_SQL),
    "exp_smooth_daily": (exp_smooth_daily, _exp_smooth_sql()),
    "fano_burstiness": (fano_burstiness, FANO_SQL),
    "pot_mean_excess": (pot_mean_excess, POT_SQL),
    "market_basket": (market_basket, MARKET_BASKET_SQL),
    "markov_transitions": (markov_transitions, MARKOV_SQL),
    "rfm_segments": (rfm_segments, RFM_SQL),
    "dpo_pairs": (dpo_pairs, DPO_PAIRS_SQL),
    "benjamini_hochberg": (benjamini_hochberg, BH_FDR_SQL),
    "wasserstein_drift": (wasserstein_drift, WASSERSTEIN_SQL),
    "trimmed_source_stats": (trimmed_source_stats, TRIMMED_SQL),
    "cohens_d_arms": (cohens_d_arms, COHENS_D_SQL),
    "cmh_test": (cmh_test, CMH_SQL),
    "theil_index": (theil_index, THEIL_SQL),
    "cem_att": (cem_att, CEM_ATT_SQL),
    "did_estimator": (did_estimator, DID_SQL),
    "sprt_readout": (sprt_readout, _sprt_sql()),
    "jackknife_influence": (jackknife_influence, JACKKNIFE_SQL),
    "acf_daily": (acf_daily, _acf_sql()),
    "neyman_allocation": (neyman_allocation, NEYMAN_SQL),
    "logrank_test": (logrank_test, LOGRANK_SQL),
    "bradley_terry": (bradley_terry, None),
    "srm_check": (srm_check, SRM_SQL),
    "gini_impurity_split": (gini_impurity_split, GINI_SPLIT_SQL),
    "seasonal_strength": (seasonal_strength, _seasonal_strength_sql()),
    "code_detect": (code_detect, CODE_DETECT_SQL),
    "isotonic_calibration": (isotonic_calibration, None),
    "tukey_fences": (tukey_fences, TUKEY_SQL),
    "path_trigrams": (path_trigrams, PATH_TRIGRAMS_SQL),
    "eb_shrinkage": (eb_shrinkage, EB_SHRINKAGE_SQL),
    "power_mde": (power_mde, POWER_MDE_SQL),
    "silhouette_labels": (silhouette_labels, SILHOUETTE_SQL),
    "dunning_keyness": (dunning_keyness, DUNNING_SQL),
    "burrows_delta": (burrows_delta, BURROWS_SQL),
    "lead_lag_corr": (lead_lag_corr, _lead_lag_sql()),
    "anomaly_consensus": (anomaly_consensus, ANOMALY_CONSENSUS_SQL),
    "abc_analysis": (abc_analysis, ABC_SQL),
    "discount_elasticity": (discount_elasticity, DISCOUNT_ELASTICITY_SQL),
    "chow_test": (chow_test, CHOW_SQL),
    "cooks_distance_days": (cooks_distance_days, COOKS_D_SQL),
    "runs_test": (runs_test, RUNS_TEST_SQL),
    "ljung_box": (ljung_box, _ljung_box_sql()),
    # ^^^ position 50 — end of the r16 driver window ^^^
    # --- r15-certified (CORRECTNESS_r15.json, freshest) ---
    # (r17: ngram_jaccard_dups and dedup_clusters no longer share a
    # persisted pair pipeline — a persist_scope around each query releases
    # the dedup persists, so suite order carries no timing bias.)
    "multimodal_features": (multimodal_features, None),
    "sketch_distinct_users": (sketch_distinct_users, None),
    "sketch_value_quantiles": (sketch_value_quantiles, None),
    "doc_repetition": (doc_repetition, DOC_REPETITION_SQL),
    "domain_kl": (domain_kl, DOMAIN_KL_SQL),
    "vocab_oov": (vocab_oov, VOCAB_OOV_SQL),
    "hybrid_search": (hybrid_search, HYBRID_SEARCH_SQL),
    "wpl_oml_pipeline": (wpl_oml_pipeline, WPL_OML_SQL),
    "wpl_auto_cascade": (wpl_auto_cascade, WPL_AUTO_SQL),
    "wpl_kv_parse": (wpl_kv_parse, WPL_KV_SQL),
    "wpl_time_formats": (wpl_time_formats, WPL_TIME_SQL),
    "wpl_base64_field": (wpl_base64_field, WPL_B64_SQL),
    "wpl_multirule_dispatch": (wpl_multirule_dispatch, WPL_MULTIRULE_SQL),
    "oml_scalar_functions": (oml_scalar_functions, OML_SCALAR_SQL),
    "oml_match_forms": (oml_match_forms, OML_MATCH_SQL),
    "wpl_miss_diagnostics": (wpl_miss_diagnostics, WPL_DIAG_SQL),
    "wpl_net_types": (wpl_net_types, WPL_NET_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "events_dedup_first": (events_dedup_first, DEDUP_FIRST_SQL),
    "ngram_jaccard_dups": (ngram_jaccard_dups, NGRAM_JACCARD_SQL),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
    "contamination_check": (contamination_check, CONTAMINATION_SQL),
    "semantic_dedup_keep": (semantic_dedup_keep, None),
    "corpus_budget_select": (corpus_budget_select, _corpus_budget_sql()),
    # --- CHANGED in r15 (re-certify): integer-exact trend_test median
    #     ranks; degree-ordered host_triangles wedge join ---
    "trend_test": (trend_test, TREND_TEST_SQL),
    "host_triangles": (host_triangles, _host_triangles_sql()),
    # --- NEW r14 (24 of 30; never driver-certified) ---
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_SQL),
    "q9_product_profit": (q9_product_profit, Q9_SQL),
    "q11_important_stock": (q11_important_stock, Q11_SQL),
    "q12_late_priority_audit": (q12_late_priority_audit, Q12_SQL),
    "q16_parts_supplier_count": (q16_parts_supplier_count, Q16_SQL),
    "q20_potential_promotion": (q20_potential_promotion, Q20_SQL),
    "q21_suppliers_kept_waiting": (q21_suppliers_kept_waiting, Q21_SQL),
    "auc_roc": (auc_roc, AUC_ROC_SQL),
    "ece_calibration": (ece_calibration, ECE_SQL),
    "cohen_kappa": (cohen_kappa, COHEN_KAPPA_SQL),
    "spearman_corr": (spearman_corr, SPEARMAN_SQL),
    "ks_drift": (ks_drift, KS_DRIFT_SQL),
    "log_odds_keywords": (log_odds_keywords, LOG_ODDS_SQL),
    "edit_distance_join": (edit_distance_join, EDIT_DIST_SQL),
    "mattr_diversity": (mattr_diversity, MATTR_SQL),
    "cusum_changepoint": (cusum_changepoint, CUSUM_SQL),
    "curriculum_order": (curriculum_order, CURRICULUM_SQL),
    "score_quantile_normalize": (score_quantile_normalize, QUANTILE_NORM_SQL),
    "l_diversity_release": (l_diversity_release, L_DIVERSITY_SQL),
    "conformal_threshold": (conformal_threshold, CONFORMAL_SQL),
    "hamilton_allocation": (hamilton_allocation, HAMILTON_SQL),
    "threshold_sweep": (threshold_sweep, _threshold_sweep_sql()),
    "balanced_shards": (balanced_shards, BALANCED_SHARDS_SQL),
    "kwic_extract": (kwic_extract, KWIC_SQL),
    # --- r14-certified (CORRECTNESS_r14.json) ---
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "embedding_whiten": (embedding_whiten, None),
    "flesch_readability": (flesch_readability, FLESCH_SQL),
    "yule_k_diversity": (yule_k_diversity, YULE_K_SQL),
    "softdedup_weights": (softdedup_weights, SOFTDEDUP_SQL),
    "refinedweb_line_filter": (refinedweb_line_filter, REFINEDWEB_SQL),
    "language_balance_gini": (language_balance_gini, LANG_GINI_SQL),
    "fellegi_sunter_links": (fellegi_sunter_links, FELLEGI_SUNTER_SQL),
    "kmv_theta_sketch": (kmv_theta_sketch, KMV_THETA_SQL),
    "quality_ensemble_rank": (quality_ensemble_rank, QUALITY_ENSEMBLE_SQL),
    "host_pagerank": (host_pagerank, _host_pagerank_sql()),
    "minhash_band_tuning": (minhash_band_tuning, _minhash_band_tuning_sql()),
    "bpe_train_merges": (bpe_train_merges, None),
    "wimbd_report": (wimbd_report, WIMBD_SQL),
    "per_source_reservoir": (per_source_reservoir, PER_SOURCE_RESERVOIR_SQL),
    "unicode_normalize_clean": (unicode_normalize_clean, UNICODE_NORM_SQL),
    "host_label_propagation": (host_label_propagation, _host_lpa_sql()),
    "chi2_feature_select": (chi2_feature_select, CHI2_SQL),
    "psi_drift": (psi_drift, PSI_SQL),
    "classifier_prf": (classifier_prf, CLASSIFIER_PRF_SQL),
    "rank_eval_ndcg": (rank_eval_ndcg, RANK_EVAL_SQL),
    "bootstrap_ci": (bootstrap_ci, BOOTSTRAP_SQL),
    "mmr_rerank": (mmr_rerank, None),
    "q22_dormant_customers": (q22_dormant_customers, Q22_SQL),
    "bm25_search": (bm25_search, BM25_SQL),
    "lm_perplexity": (lm_perplexity, LM_PPL_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_orders": (q3_top_orders, Q3_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "orders_with_big_items": (orders_with_big_items, SEMI_JOIN_SQL),
    "user_sessions": (user_sessions, SESSIONS_SQL),
    "events_alerts": (events_alerts, ALERTS_SQL),
    "enrich_customer_region": (enrich_customer_region, ENRICH_SQL),
    "supplier_part_join": (supplier_part_join, SUPPLIER_PART_SQL),
    "wpl_parse_clf": (wpl_parse_clf, WPL_CLF_SQL),
    "char_entropy": (char_entropy, CHAR_ENTROPY_SQL),
    "stupid_backoff_ppl": (stupid_backoff_ppl, STUPID_BACKOFF_SQL),
    "heaps_law": (heaps_law, HEAPS_LAW_SQL),
    "countmin_heavy_hitters": (countmin_heavy_hitters, COUNTMIN_SQL),
    "weighted_sample_aes": (weighted_sample_aes, WEIGHTED_SAMPLE_SQL),
    "hard_negative_mining": (hard_negative_mining, HARD_NEGATIVE_SQL),
    "mrl_truncation_eval": (mrl_truncation_eval, MRL_EVAL_SQL),
    "semdedup_prune": (semdedup_prune, None),
    "k_anonymity_suppress": (k_anonymity_suppress, K_ANONYMITY_SQL),
    "cdc_chunking": (cdc_chunking, CDC_CHUNKING_SQL),
    "tokenizer_fertility": (tokenizer_fertility, TOKENIZER_FERTILITY_SQL),
    "contrastive_triplets": (contrastive_triplets, CONTRASTIVE_SQL),
    "neardup_pagerank": (neardup_pagerank, None),
    "pq_quantize": (pq_quantize, None),
    # --- r12-certified (CORRECTNESS_r12.json) ---
    "good_turing_mass": (good_turing_mass, GOOD_TURING_SQL),
    "distinct_ngrams": (distinct_ngrams, DISTINCT_NGRAMS_SQL),
    "prefix_containment_dedup": (prefix_containment_dedup, PREFIX_CONTAIN_SQL),
    "jl_projection_ann": (jl_projection_ann, None),
    "domain_temperature_mix": (domain_temperature_mix, DOMAIN_TEMPERATURE_SQL),
    "dp_event_release": (dp_event_release, DP_RELEASE_SQL),
    "leakage_safe_split": (leakage_safe_split, LEAKAGE_SPLIT_SQL),
    "stratified_sample": (stratified_sample, _stratified_sample_sql()),
    "pii_redact": (pii_redact, _pii_sql()),
    "paragraph_dedup_pages": (paragraph_dedup_pages, PARAGRAPH_DEDUP_SQL),
    "doc_chunks": (doc_chunks, _doc_chunks_sql()),
    "span_dedup": (span_dedup, SPAN_DEDUP_SQL),
    "pack_sequences": (pack_sequences_q, _pack_sequences_sql()),
    "gopher_quality": (gopher_quality, _gopher_sql()),
    "domain_mixture": (domain_mixture, _domain_mixture_sql()),
    "sink_route_filter": (sink_route_filter, SINK_ROUTE_SQL),
    "json_extract_props": (json_extract_props, JSON_PROPS_SQL),
    "events_window_stats": (events_window_stats, WINDOW_STATS_SQL),
    "top_users_per_type": (top_users_per_type, TOP_USERS_SQL),
    "enrich_ip_range": (enrich_ip_range, IP_RANGE_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "minhash_lsh_dups": (minhash_lsh_dups, None),
    "simhash_dups": (simhash_dups, None),
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "language_id": (language_id, _language_id_sql()),
    "token_counts": (token_counts, TOKEN_COUNTS_SQL),
    "quality_scores": (quality_scores, _quality_scores_sql()),
    "doc_fingerprint": (doc_fingerprint, FINGERPRINT_SQL),
    "multimodal_real_decode": (multimodal_real_decode, None),
    "image_neardup": (image_neardup, None),
    "events_retention": (events_retention, RETENTION_SQL),
    "customer_deciles": (customer_deciles, DECILES_SQL),
    "orders_cube": (orders_cube, ORDERS_CUBE_SQL),
    "events_quantiles": (events_quantiles, EVENTS_QUANTILES_SQL),
    "bigram_pmi": (bigram_pmi, BIGRAM_PMI_SQL),
    "training_shards": (training_shards, TRAINING_SHARDS_SQL),
    "dsir_weights": (dsir_weights, DSIR_WEIGHTS_SQL),
    "embedding_outliers": (embedding_outliers, EMB_OUTLIERS_SQL),
    "pq_ann_topk": (pq_ann_topk, None),
    "ngram_novelty": (ngram_novelty, NGRAM_NOVELTY_SQL),
    "cross_source_overlap": (cross_source_overlap, CROSS_SOURCE_OVERLAP_SQL),
    "winnow_fingerprints": (winnow_fingerprints, WINNOW_SQL),
    "ccnet_buckets": (ccnet_buckets, CCNET_BUCKETS_SQL),
    "zipf_slope": (zipf_slope, ZIPF_SLOPE_SQL),
    "ivfpq_ann_topk": (ivfpq_ann_topk, None),
    "source_dup_rates": (source_dup_rates, SOURCE_DUP_RATES_SQL),
    "token_length_histogram": (token_length_histogram, TOKEN_LEN_HIST_SQL),
    "ivf_ann_topk": (ivf_ann_topk, None),
    "cosine_topk": (cosine_topk, COSINE_TOPK_SQL),
    "embedding_neardup": (embedding_neardup, EMB_NEARDUP_SQL),
    # --- r13-certified (CORRECTNESS_r13.json, freshest) ---
    "url_canonicalize": (url_canonicalize, URL_CANON_SQL),
    "luhn_card_scan": (luhn_card_scan, LUHN_SCAN_SQL),
    "naive_bayes_quality": (naive_bayes_quality, NAIVE_BAYES_SQL),
    "doremi_weights": (doremi_weights, DOREMI_SQL),
    "ewma_anomaly_batch": (ewma_anomaly_batch, None),
    "coverage_select": (coverage_select, None),
    "c4_filters": (c4_filters, C4_FILTERS_SQL),
    "unimax_weights": (unimax_weights, UNIMAX_SQL),
    "domain_blocklist_filter": (domain_blocklist_filter, DOMAIN_BLOCKLIST_SQL),
    "kneser_ney_ppl": (kneser_ney_ppl, KNESER_NEY_SQL),
    "pareto_frontier": (pareto_frontier, PARETO_SQL),
    "kcenter_select": (kcenter_select, None),
    "burst_detection": (burst_detection, None),
    "snm_candidate_pairs": (snm_candidate_pairs, SNM_SQL),
    "rendezvous_shards": (rendezvous_shards, RENDEZVOUS_SQL),
    "robust_source_stats": (robust_source_stats, ROBUST_STATS_SQL),
    "lsh_ann_topk": (lsh_ann_topk, None),
    "corpus_profile": (corpus_profile_q, CORPUS_PROFILE_SQL),
    "top_tokens": (top_tokens_q, TOP_TOKENS_SQL),
    "incremental_dedup": (incremental_dedup_q, INCREMENTAL_DEDUP_SQL),
    "incremental_dedup_bloom": (incremental_dedup_bloom_q, INCREMENTAL_DEDUP_SQL),
    "embedding_normalize": (embedding_normalize_q, EMB_NORMALIZE_SQL),
    "embedding_pca": (embedding_pca_q, None),
    "embedding_quantize": (embedding_quantize_q, EMB_QUANTIZE_SQL),
    "purchase_attribution": (purchase_attribution, PURCHASE_ATTRIBUTION_SQL),
    "region_rollup": (region_rollup, REGION_ROLLUP_SQL),
    "span_removal": (span_removal, SPAN_REMOVAL_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "events_pivot": (events_pivot, EVENTS_PIVOT_SQL),
    "returning_customers": (returning_customers, RETURNING_CUSTOMERS_SQL),
    "customer_running_revenue": (customer_running_revenue, RUNNING_REVENUE_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "funnel_conversion": (funnel_conversion, FUNNEL_SQL),
    "kmeans_clusters": (kmeans_clusters, None),
    "tfidf_keywords": (tfidf_keywords_q, TFIDF_SQL),
    "doc_information": (doc_information_q, DOC_INFO_SQL),
    "compression_quality": (compression_quality, None),
    "html_extract": (html_extract, HTML_EXTRACT_SQL),
    "zorder_events": (zorder_events, _zorder_sql()),
    "events_anomaly": (events_anomaly, EVENTS_ANOMALY_SQL),
    "bpe_token_counts": (bpe_token_counts, None),
    "curation_pipeline": (curation_pipeline, _curation_pipeline_sql()),
    "train_val_split": (train_val_split, _train_val_split_sql()),
    "q4_priority_exists": (q4_priority_exists, Q4_SQL),
    "q7_nation_volume": (q7_nation_volume, Q7_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q13_order_distribution": (q13_order_distribution, Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    # --- NEW r16 (at the END: rotate into the r17 window; see the
    #     header comment for the r17 split math) ---
    "kruskal_wallis": (kruskal_wallis, KRUSKAL_SQL),
    "mood_median_test": (mood_median_test, MOOD_MEDIAN_SQL),
    "jarque_bera": (jarque_bera, JARQUE_BERA_SQL),
    "bartlett_test": (bartlett_test, BARTLETT_SQL),
    "anova_f_test": (anova_f_test, ANOVA_F_SQL),
    "kendall_tau_daily": (kendall_tau_daily, KENDALL_TAU_SQL),
    "theil_sen_daily": (theil_sen_daily, THEIL_SEN_SQL),
    "grubbs_test": (grubbs_test, GRUBBS_SQL),
    "friedman_test": (friedman_test, FRIEDMAN_SQL),
    "cramers_v": (cramers_v, CRAMERS_V_SQL),
    "spectral_peaks": (spectral_peaks, _spectral_sql()),
    "turning_points_test": (turning_points_test, TURNING_POINTS_SQL),
    "unit_value_index": (unit_value_index, UNIT_VALUE_SQL),
    "cohort_retention": (cohort_retention, COHORT_RETENTION_SQL),
    "interpurchase_time": (interpurchase_time, INTERPURCHASE_SQL),
    "collocation_tscore": (collocation_tscore, COLLOCATION_T_SQL),
    "word_burstiness": (word_burstiness, WORD_BURSTINESS_SQL),
    "rouge_overlap": (rouge_overlap, ROUGE_SQL),
    "self_bleu_sample": (self_bleu_sample, SELF_BLEU_SQL),
    "t_closeness_audit": (t_closeness_audit, T_CLOSENESS_SQL),
    "brier_decomposition": (brier_decomposition, BRIER_DECOMP_SQL),
    "gains_table": (gains_table, GAINS_TABLE_SQL),
    "mcc_score": (mcc_score, MCC_SQL),
    "host_assortativity": (host_assortativity, _host_assortativity_sql()),
    "host_neighbor_jaccard": (
        host_neighbor_jaccard, _host_neighbor_jaccard_sql()
    ),
    "spc_control_limits": (spc_control_limits, SPC_SQL),
    "horvitz_thompson_total": (horvitz_thompson_total, HORVITZ_SQL),
    "capture_recapture": (capture_recapture, CAPTURE_RECAPTURE_SQL),
}

