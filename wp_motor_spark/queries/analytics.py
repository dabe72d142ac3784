"""Product and commerce analytics over `events`, `orders` and `lineitem`:
retention, funnels, survival curves, segmentation, basket and path
mining, price indices, and privacy release gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.queries._common import (
    _dec,
    _global_rank_cumsum,
    _holds_rank,
    _t,
    query,
)
from wp_motor_spark.session import scoped_persist


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
WITH ev AS (
  SELECT event_id, event_type, CAST(ts AS DATE) AS day, user_id FROM events
), groups AS (
  SELECT event_type, day, count(DISTINCT user_id) AS n_users
  FROM ev GROUP BY 1, 2 HAVING count(DISTINCT user_id) >= 5
)
SELECT event_id, ev.event_type, ev.day, n_users
FROM ev JOIN groups USING (event_type, day)
""")
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


@query("""
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
""")
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


@query("""
SELECT c_nationkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
       COUNT(*) AS k_size,
       COUNT(DISTINCT c_mktsegment) AS l_distinct,
       (COUNT(*) >= 5 AND COUNT(DISTINCT c_mktsegment) >= 3) AS released
FROM customer
GROUP BY 1, 2
ORDER BY c_nationkey, bal_bucket
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
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
""")
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
    med = cum.where(_holds_rank(F.ceil(F.col("n") / 2))).select(
        "c_mktsegment", F.col("gap").alias("median_gap")
    )
    p90 = cum.where(_holds_rank(F.ceil(F.col("n") * 0.9))).select(
        "c_mktsegment", F.col("gap").alias("p90_gap")
    )
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


@query("""
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
""")
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
