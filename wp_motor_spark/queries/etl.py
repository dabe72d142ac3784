"""Engine-surface queries: the reference's WPL parse, OML transform, sink
routing, KnowDB enrichment and stats subsystems re-expressed as driver
queries. The WPL and OML ones synthesize deterministic lines from
`events` and prove the parse round-trips by deriving the same fields
relationally in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.conditions import compile_condition
from wp_motor_spark.knowdb import KnowDB
from wp_motor_spark.operators.stats import windowed_counts
from wp_motor_spark.queries._common import _dec, _t, query
from wp_motor_spark.wpl import compile_rule, parse_wpl


@query("""
SELECT r_name AS region, COUNT(*) AS customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY r_name
""")
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


@query("""
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
""")
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


@query("""
WITH stats AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS total
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, total,
       'total >= 5: ' || CAST(total AS VARCHAR) AS alert
FROM stats WHERE total >= 5
""")
def events_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alerting over windowed stats (src/stat/alert_system.rs)."""
    from wp_motor_spark.operators.stats import alert

    stats = events_window_stats(spark, sf_dir)
    return alert(stats, "total", 5, ">=").select(
        "window_start", "event_type", "total", "alert"
    )


_CLF_RULE = """
rule clf {
  (ip:sip,2*_,time/clf:recv_time<[,]>,http/request",http/status:status,digit:bytes)
}
"""


def _clf_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthesized CLF line per `events` row, parsed by ``_CLF_RULE``:
    the lines the rule takes, with ``event_id``, the typed fields and the
    rule's bookkeeping columns."""
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
    parsed = compile_rule(parse_wpl(_CLF_RULE)[0]).extract(lines, keep=["event_id"])
    return parsed.where(F.col("_disposition") == "success")


@query("""
SELECT event_id,
       '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS sip,
       date_trunc('second', ts) AS recv_time,
       '/e/' || CAST(event_id AS VARCHAR) AS uri,
       CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS BIGINT) AS status,
       CAST(round(value * 100) AS BIGINT) AS bytes
FROM events
""")
def wpl_parse_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WPL end-to-end under the oracle: synthesize CLF lines from `events`,
    parse with the compiled rule, return typed fields.

    The oracle derives the same fields relationally — equality proves the
    regex extraction + typed casts round-trip."""
    return _clf_parsed(spark, sf_dir).select(
        "event_id",
        "sip",
        "recv_time",
        F.col("http_request").getField("uri").alias("uri"),
        "status",
        "bytes",
    )


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


@query("""
SELECT event_id,
       '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS sip,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts,
       '/e/' || CAST(event_id AS VARCHAR) AS uri,
       CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS BIGINT) AS status,
       CASE WHEN CAST(round(value * 100) AS BIGINT) BETWEEN 0 AND 499 THEN 'small' ELSE 'large' END AS size_class,
       '10.0.' || CAST(CAST(floor(user_id / 256) AS INT) AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS host
FROM events
""")
def wpl_oml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path under the oracle: WPL parse -> OML transform
    (typed reads, pipe fns, struct get, match range, default clause)."""
    from wp_motor_spark.oml.compiler import compile_oml

    parsed = _clf_parsed(spark, sf_dir)
    model = compile_oml(_CLF_OML)
    return model.apply(parsed.drop("value", "_rule", "_disposition", "_residue"))


@query("""
SELECT event_id, event_type, value
FROM events
WHERE (value >= 5.0 AND event_type <> 'error') OR event_type LIKE 'log%'
""")
def sink_route_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-condition routing (§2.6): the expression language compiled to a
    pushed-down filter."""
    ev = _t(spark, sf_dir, "events")
    cond = compile_condition('value >= 5.0 && event_type != "error" || event_type =* "log*"')
    return ev.where(cond).select("event_id", "event_type", "value")


@query("""
SELECT event_id,
       props ->> '$.k' AS k_str,
       TRY_CAST(props ->> '$.k' AS BIGINT) AS k_num
FROM events
""")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WPL json()/OML get() analog: project a key out of a JSON column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").try_cast("long").alias("k_num"),
    )


@query("""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS total,
       COUNT(*) FILTER (WHERE value > 5.0) AS success,
       ROUND(CAST(COUNT(*) FILTER (WHERE value > 5.0) AS DOUBLE) / COUNT(*) * 100, 4) AS suc_rate,
       ROUND(CAST(COUNT(*) AS DOUBLE) / 3600, 4) AS speed
FROM events
GROUP BY 1, 2, 3
""")
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


@query("""
SELECT event_type, user_id, n, rank FROM (
  SELECT event_type, user_id, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY COUNT(*) DESC, user_id) AS rank
  FROM events GROUP BY event_type, user_id
) WHERE rank <= 5
""")
def top_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked top-N per dimension (stats top_n cap, model/dimension.rs)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    return counts.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)


@query("""
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
""")
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


@query("""
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
""")
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


@query("""
SELECT event_id,
       user_id AS uid,
       event_type AS etype,
       (CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) || '.5') :: DOUBLE AS val
FROM events
""")
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


@query("""
SELECT event_id,
       date_trunc('second', ts) AS t_iso,
       date_trunc('second', ts) AS t_3339,
       ts AS t_us
FROM events
""")
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


@query("""
SELECT event_id, user_id AS uid, event_type AS et
FROM events
""")
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


@query("""
SELECT event_id AS eid,
       'h' || CAST(user_id AS VARCHAR) || '.example.com' AS host,
       '/a/b' || CAST(user_id AS VARCHAR) AS upath,
       'k=' || event_type AS uquery,
       'b' || CAST(user_id AS VARCHAR) AS fname,
       10 * 16777216 + CAST(floor(user_id / 256) AS BIGINT) * 256 + user_id % 256 AS ip_num,
       event_type AS etype,
       CAST(event_id AS VARCHAR) || '|' || CAST(event_id AS VARCHAR) AS tag
FROM events
""")
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


@query("""
SELECT event_id AS eid,
       CASE WHEN event_type = 'click' THEN 'c'
            WHEN NOT regexp_matches(event_type, 'w$') THEN 'nw'
            ELSE 'w' END AS kind,
       CASE WHEN event_type IN ('view', 'click') THEN 'ui'
            WHEN event_type LIKE 'sig%' THEN 's'
            ELSE 'rest' END AS grp,
       CASE WHEN event_type = 'error' THEN 'err500' ELSE 'na' END AS pair
FROM events
""")
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


@query("""
SELECT event_id,
       CASE WHEN event_id % 2 = 1 THEN 'aud' ELSE 'acc' END AS rule
FROM events
WHERE event_type != 'error'
""")
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


@query("""
SELECT event_id,
       'www.ex' || CAST(user_id AS VARCHAR) || '.com' AS dom,
       'u' || CAST(user_id AS VARCHAR) || '@ex.com' AS em,
       'http://ex.com/p' || CAST(user_id AS VARCHAR) AS u,
       '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.0/24' AS net,
       '138' || lpad(CAST(user_id % 100000000 AS VARCHAR), 8, '0') AS mp,
       lower(to_hex(user_id + 1)) AS hx,
       event_id % 2 = 0 AS b
FROM events
""")
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


@query("""
SELECT event_id,
       CASE event_id % 5 WHEN 1 THEN 'a' WHEN 2 THEN 'a' WHEN 3 THEN 'b'
            ELSE NULL END AS best_rule,
       CASE event_id % 5 WHEN 1 THEN 2 WHEN 2 THEN 3 WHEN 3 THEN 2
            ELSE 0 END AS parse_depth
FROM events
WHERE event_id % 5 != 0
""")
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


@query("""
SELECT user_id, event_type,
       event_id AS first_event_id,
       ts AS first_ts
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id
    ) AS rn
    FROM events
) t WHERE rn = 1
""")
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


@query("""
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY 1
""")
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


@query(None)
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


@query(None)
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
