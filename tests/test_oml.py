"""OML parser + compiler tests against the reference's own fixtures.

Golden sources: tests/instance/oml/*.oml, the T4 complete example
(docs/usage/zh/04-oml/07-complete-example.md), and the static-blocks doc
(docs/usage/en/04-oml/functions/static_blocks.md) — SURVEY.md §5.
The tests that read the reference checkout's own files are marked
needs_reference and skip when that tree is absent.
"""

import re

import pytest
from pyspark.sql import functions as F

from conftest import REF, example_simple, needs_reference
from wp_motor_spark.oml.compiler import compile_oml
from wp_motor_spark.oml.parser import parse_oml
from wp_motor_spark.wpl import compile_rule, parse_wpl


# ---------------------------------------------------------------- parsing


@needs_reference
def test_parse_reference_fixtures():
    bench = parse_oml(open(f"{REF}/tests/instance/oml/benchmark.oml").read())
    assert bench.name == "benchmark"
    assert bench.rule_patterns == ["/benchmark/*"]
    assert len(bench.statements) == 11

    adm = parse_oml(open(f"{REF}/tests/instance/oml/example_adm.oml").read())
    assert adm.rule_patterns == ["/example/simple/nginx"]
    assert adm.statements[-1].targets == ["*"]


@needs_reference
def test_parse_t4_complete_example():
    doc = open(f"{REF}/docs/usage/zh/04-oml/07-complete-example.md").read()
    oml_text = re.search(r"```oml\n(.*?)```", doc, re.S).group(1)
    m = parse_oml(oml_text)
    assert len(m.statements) == 63


# --------------------------------------------------------------- compiling


@needs_reference
def test_benchmark_model(spark):
    tr = compile_oml(open(f"{REF}/tests/instance/oml/benchmark.oml").read())
    assert tr.matches("benchmark/benchmark_1")
    assert not tr.matches("other/rule")
    df = spark.createDataFrame(
        [("2023-05-15 07:09:12", "SN1", "devA", "1.2.3.4", "/u", "200", "512", "cs", "x")],
        ["time", "sn", "dev-name", "ip", "chars", "requ_status", "resp_len", "src_city", "extra"],
    )
    row = tr.apply(df).collect()[0]
    assert str(row["occur_time"]) == "2023-05-15 07:09:12"
    assert row["sn"] == "SN1"
    assert row["dev_name"] == "devA"
    assert row["sip"] == "1.2.3.4"
    assert row["from_zone"] == "work_zone"  # literal
    assert row["from_ip"] == "127.0.0.1"
    assert row["requ_status"] == 200
    assert row["extra"] == "x"  # * = take() passthrough


@needs_reference
def test_benchmark_defaults(spark):
    tr = compile_oml(open(f"{REF}/tests/instance/oml/benchmark.oml").read())
    df = spark.createDataFrame([("SN1",)], ["sn"])
    row = tr.apply(df).collect()[0]
    assert row["requ_status"] == 404  # { _ : digit(404) }
    assert row["resp_len"] == 2048
    assert row["src_city"] == "changsha"


def test_static_blocks(spark):
    text = """
name : example
---
static {
    error_tpl = object {
        id = chars(E1);
        tpl = chars('jk2_init() Found child <*>');
    };
}
target = match read(Content) {
    starts_with('jk2_init()') => error_tpl;
    _ => error_tpl;
};
EventId = read(target) | get(id);
EventTemplate = read(target) | get(tpl);
"""
    df = spark.createDataFrame([("jk2_init() Found child 123",)], ["Content"])
    row = compile_oml(text).apply(df).collect()[0]
    assert row["EventId"] == "E1"
    assert row["EventTemplate"] == "jk2_init() Found child <*>"


@pytest.fixture(scope="module")
def t4_result(spark):
    doc = open(f"{REF}/docs/usage/zh/04-oml/07-complete-example.md").read()
    raw_line = re.search(r"## 原始数据\n\n```\n(.*?)\n```", doc, re.S).group(1)
    wpl_text = re.search(r"```wpl\n(.*?)```", doc, re.S).group(1)
    oml_text = re.search(r"```oml\n(.*?)```", doc, re.S).group(1)
    # the doc line carries a k:v tail the WPL rule doesn't model; the OML
    # reads those fields, so synthesize them like the record would carry them
    line, _, tail = raw_line.partition(" sport:")
    extra = dict(p.split(":", 1) for p in ("sport:" + tail).split(" "))
    cr = compile_rule(parse_wpl(wpl_text)[0])
    parsed = cr.extract(spark.createDataFrame([(line,)], ["value"]))
    assert parsed.first()["_disposition"] == "success"
    for k, v in extra.items():
        parsed = parsed.withColumn(k, F.lit(v))
    parsed = parsed.drop("value", "_rule", "_disposition", "_residue")
    out = compile_oml(oml_text).apply(parsed)
    return out.columns, out.collect()[0]


T4_EXPECT = {
    # §1 base ops
    "direct_chars": "13",
    "direct_digit": 13,
    "simple_chars": "simple_chars",
    "simple_port": 80,
    "simple_ip": "192.168.1.10",
    "select_chars": "select_one",
    "field_with_default": "exists",
    "version_fallback": "v1.0.0",
    "field_taken": "data",
    "field_taken_again": "already_taken",  # 2nd take -> default
    "field_read1": "value",
    "field_read2": "value",  # read is repeatable
    # §3 match forms
    "match_chars": "1",
    "num_range": 500,
    "location": "east_region",
    "region_by_ip": "internal",
    "valid_status": "ok",
    "city_tier": "tier1",
    "priority": "high",
    # §4 pipes
    "file_name": "file.txt",
    "file_path": "/home/user",
    "url_domain": "example.com",
    "url_host": "example.com",
    "url_path": "/path/to/resource",
    "url_params": "foo=1&bar=2",
    "url_uri": "/path/to/resource?foo=1&bar=2",
    "base64_encoded": "aGVsbG8gd29ybGQ=",
    "array_first": "val1",
    "obj_nested": "nested",
    "ip_to_int": 3232235786,
    # §5 fmt
    "splice": "foo:bar|baz:qux",
}


@needs_reference
def test_t4_outputs(t4_result):
    cols, row = t4_result
    bad = {}
    for k, v in T4_EXPECT.items():
        got = row[k] if k in cols else "<missing>"
        if str(got) != str(v):
            bad[k] = (v, got)
    assert not bad, bad


@needs_reference
def test_t4_collect_wildcards(t4_result):
    cols, row = t4_result
    assert row["collected_ports"] == ["8080", "9090"]
    assert row["wildcard_items"] == ["proc1", "proc2"]


def test_sql_enrichment(spark):
    from wp_motor_spark.knowdb import KnowDB

    text = """
name : enrich
---
city, vend = select city, vendor from devices where dev_id = read(sn) ;
zone = select zone from zones where lo <= ip4_int(read(sip)) and hi >= ip4_int(read(sip)) ;
"""
    kdb = KnowDB(spark)
    kdb.register(
        "devices",
        spark.createDataFrame([("SN1", "beijing", "h3c"), ("SN2", "xian", "hw")],
                              ["dev_id", "city", "vendor"]),
    )
    kdb.register(
        "zones",
        spark.createDataFrame([(167772160, 167772415, "dmz")], ["lo", "hi", "zone"]),
    )
    df = spark.createDataFrame([("SN1", "10.0.0.7"), ("SN9", "11.1.1.1")], ["sn", "sip"])
    out = compile_oml(text).apply(df, knowdb=kdb).orderBy(F.desc("city"))
    rows = out.collect()
    assert rows[0]["city"] == "beijing" and rows[0]["vend"] == "h3c"
    assert rows[0]["zone"] == "dmz"
    assert rows[1]["city"] is None and rows[1]["zone"] is None  # left join miss


def test_sql_enrichment_param_cap(spark):
    """sql.rs extract_more param cap (test_max_params_query /
    test_too_many_params_query): 5 record-bound params still query; a 6th
    makes the query return EMPTY (`_ => Vec::new()` + error log), so every
    target stays NULL."""
    from wp_motor_spark.knowdb import KnowDB

    cols = ["k1", "k2", "k3", "k4", "k5", "k6", "val"]
    kdb = KnowDB(spark)
    kdb.register(
        "wide", spark.createDataFrame([(1, 2, 3, 4, 5, 6, "hit")], cols)
    )
    df = spark.createDataFrame([(1, 2, 3, 4, 5, 6)],
                               "a long, b long, c long, d long, e long, f long")

    five = """
name : five
---
v = select val from wide where k1 = read(a) and k2 = read(b) and k3 = read(c) and k4 = read(d) and k5 = read(e) ;
"""
    row = compile_oml(five).apply(df, knowdb=kdb).collect()[0]
    assert row["v"] == "hit"

    six = """
name : six
---
v = select val from wide where k1 = read(a) and k2 = read(b) and k3 = read(c) and k4 = read(d) and k5 = read(e) and k6 = read(f) ;
"""
    row = compile_oml(six).apply(df, knowdb=kdb).collect()[0]
    assert row["v"] is None


@needs_reference
def test_ignore_model_passthrough(spark):
    tr = compile_oml(open(f"{REF}/tests/instance/oml/ignore.oml").read())
    df = spark.createDataFrame([("a", "b")], ["f1", "f2"])
    assert tr.apply(df).columns == ["f1", "f2"]


def test_match_condition_functions(spark):
    """docs match_functions.md: eq/iequals/gt/lt/in_range/is_empty/contains."""
    text = """
name : m
---
a = match read(s) { iequals(HELLO) => chars(yes); _ => chars(no); };
b = match read(n) { gt(10) => chars(big); lt(5) => chars(small); _ => chars(mid); };
c = match read(n) { in_range(6, 8) => chars(band); _ => chars(out); };
d = match read(e) { is_empty() => chars(empty); _ => chars(full); };
f = match read(s) { contains(ell) => chars(has); _ => chars(not); };
g = match read(sn) { eq(5.0) => chars(five); _ => chars(other); };
h = match read(n) { eq(7) => chars(seven); _ => chars(other); };
"""
    df = spark.createDataFrame([("hello", 7, "", "5")],
                               "s string, n long, e string, sn string")
    row = compile_oml(text).apply(df).collect()[0]
    assert row["a"] == "yes"
    assert row["b"] == "mid"
    assert row["c"] == "band"
    assert row["d"] == "empty"
    assert row["f"] == "has"
    # matchs.rs:419-425 eq is NUMERIC (extract_numeric parses chars,
    # |a-b| < 1e-10): eq(5.0) matches the STRING "5"
    assert row["g"] == "five"
    assert row["h"] == "seven"


def test_collect_reads_typed_dst_fields(spark):
    """collect_prm.rs test_collect_array: collect read(keys:[sport,dport])
    resolves DST first — sport/dport were re-emitted as digit above, so
    the collected array carries the TYPED values (514, 22), not the raw
    chars."""
    conf = """
name : das_apt_alert_log
---
sport:digit = read(sport);
dport:digit = read(dport);
port_list = collect read(keys:[sport,dport]);
"""
    df = spark.createDataFrame([("514", "22")], "sport string, dport string")
    row = compile_oml(conf).apply(df).collect()[0]
    assert row["port_list"] == [514, 22]


def test_enable_header(spark):
    """oml_conf.rs test_enable_config_*: `enable : false` disables the
    model (skipped at load, loading.rs:50-53); absent or true keeps it.
    The enable line must NOT leak into rule patterns."""
    on = parse_oml("name : test\nenable : true\n---\nfield = chars(v);")
    off = parse_oml("name : test\nrule : /test/*\nenable : false\n---\nfield = chars(v);")
    default = parse_oml("name : test\n---\nfield = chars(v);")
    assert on.enable and default.enable and not off.enable
    assert off.rule_patterns == ["/test/*"]

    from wp_motor_spark.pipeline import Pipeline

    wpl = example_simple("parse.wpl")
    oml_off = "name : m\nenable : false\n---\nout = chars(never);"
    pipe = Pipeline(wpl=wpl, omls=[oml_off])
    assert pipe.models == []


def test_match_multi_source_and_or(spark):
    """match_prm.rs triple/quadruple-source + OR tests
    (test_match_triple_execution, test_match_quadruple_execution,
    test_or_multi_source_execution, test_match_triple_source_with_
    mixed_cond): tuple conds AND together per position, '|' alternatives
    within a position, and `in (ip(..), ip(..))` is NUMERIC address
    containment — string between() mis-ordered 10.0.0.50 vs 10.0.0.100."""
    trip = """
name : t
---
Result = match (read(city), read(level), read(zone)) {
    (chars(bj), chars(high), chars(north)) => chars(matched),
    _ => chars(default),
};
"""
    df = spark.createDataFrame(
        [("bj", "high", "north"), ("bj", "low", "north")],
        "city string, level string, zone string",
    )
    got = [r["Result"] for r in compile_oml(trip).apply(df).collect()]
    assert got == ["matched", "default"]

    quad = """
name : t
---
Result = match (read(a), read(b), read(c), read(d)) {
    (chars(x), chars(y), chars(z), chars(w)) => chars(all_match),
    (chars(x), chars(y), chars(z), chars(other)) => chars(partial),
    _ => chars(default),
};
"""
    df = spark.createDataFrame(
        [("x", "y", "z", "w"), ("x", "y", "z", "other"), ("n", "o", "p", "e")],
        "a string, b string, c string, d string",
    )
    got = [r["Result"] for r in compile_oml(quad).apply(df).collect()]
    assert got == ["all_match", "partial", "default"]

    orm = """
name : t
---
Result = match (read(city), read(level)) {
    (chars(bj) | chars(sh), chars(high)) => chars(priority),
    (chars(gz), chars(low) | chars(mid)) => chars(normal),
    _ => chars(default),
};
"""
    df = spark.createDataFrame(
        [("sh", "high"), ("gz", "mid"), ("other", "high")],
        "city string, level string",
    )
    got = [r["Result"] for r in compile_oml(orm).apply(df).collect()]
    assert got == ["priority", "normal", "default"]

    iprange = """
name : t
---
Result = match (read(ip_field), read(level), read(zone)) {
    (in (ip(10.0.0.1), ip(10.0.0.100)), chars(high), chars(east)) => chars(block),
    (ip(192.168.0.1), chars(low), chars(west)) => chars(allow),
    _ => chars(unknown),
};
"""
    df = spark.createDataFrame(
        [("10.0.0.50", "high", "east"), ("10.0.0.200", "high", "east"),
         ("192.168.0.1", "low", "west")],
        "ip_field string, level string, zone string",
    )
    got = [r["Result"] for r in compile_oml(iprange).apply(df).collect()]
    assert got == ["block", "unknown", "allow"]


def test_base64_decode_charsets(spark):
    from wp_motor_spark.oml import functions as ofn

    # GBK bytes for 中文
    import base64 as b64

    gbk_payload = b64.b64encode("中文".encode("gbk")).decode()
    df = spark.createDataFrame([(gbk_payload,)], ["x"])
    out = df.select(
        ofn.base64_decode(F.col("x"), "Gbk").alias("g"),
        ofn.base64_decode(F.col("x"), "Utf8").alias("u"),
    ).collect()[0]
    assert out["g"] == "中文"


def test_json_unescape_escaped_backslash(spark):
    """`\\n` in the wire bytes (escaped backslash + 'n') must stay a literal
    backslash + 'n', never collapse into a newline; real escapes unescape."""
    from wp_motor_spark.oml import functions as ofn

    df = spark.createDataFrame(
        [(r"a\\nb",), (r"a\nb",), (r"say \"hi\"",), (r"p\\\\q",)], ["x"]
    )
    vals = [r["y"] for r in df.select(ofn.json_unescape(F.col("x")).alias("y")).collect()]
    assert vals[0] == "a\\nb"      # \\n -> backslash + n
    assert vals[1] == "a\nb"       # \n -> newline
    assert vals[2] == 'say "hi"'   # \" -> quote
    assert vals[3] == "p\\\\q"     # \\\\ -> two backslashes


@needs_reference
def test_complete_example_golden(spark):
    """The reference's full OML feature showcase (docs/usage/zh/04-oml/
    07-complete-example.md): the ENTIRE program — literals, option/default
    reads, take-vs-read, wildcards, Now::*, all match forms (single,
    range, multi-source, negation, bool, OR, multi+OR), 20+ pipe fns, fmt,
    object/collect — compiles and runs over the doc's own input line with
    the documented values."""
    import re

    from wp_motor_spark.oml.compiler import compile_oml
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    doc = open(f"{REF}/docs/usage/zh/04-oml/07-complete-example.md").read()
    oml = re.findall(r"```oml\n(.*?)```", doc, re.S)[0]
    wpl = re.findall(r"```wpl\n(.*?)```", doc, re.S)[0]
    line = re.findall(r"## 原始数据\n\n```\n(.*?)\n```", doc, re.S)[0]

    tr = compile_oml(oml)
    cr = compile_rule(parse_wpl(wpl)[0])
    parsed = cr.extract(spark.createDataFrame([(line,)], ["value"]))
    out = tr.apply(parsed.drop("value", "_rule", "_disposition", "_residue"))
    row = out.collect()[0].asDict()

    assert row["direct_chars"] == "13" and row["direct_digit"] == 13
    assert row["simple_chars"] == "simple_chars"
    assert row["simple_port"] == 80 and row["simple_ip"] == "192.168.1.10"
    assert row["select_chars"] == "select_one"
    assert row["field_with_default"] == "DEFAULT_VALUE"
    assert row["version_fallback"] == "v1.0.0"
    assert row["field_taken_again"] == "already_taken"
    # match forms
    assert row["match_chars"] == "1"  # chars(left) => chars(1)
    assert row["num_range"] == 500  # in (0, 1000)
    assert row["location"] == "east_region"  # multi-source tuple
    assert row["region_by_ip"] == "internal"
    assert row["valid_status"] == "ok"  # negation arm
    assert row["city_tier"] == "tier1"  # OR arms
    assert row["priority"] == "high"  # multi-source + OR
    # pipes
    assert row["timestamp_zone"] == 1767009600000  # to_ts_zone(0, ms)
    assert row["timestamp_s"] == 1766980800  # read() sees the ORIGINAL field
    # the WPL layer already decoded `base64 | (chars:base64)` to "hello
    # world", so the doc's base64_decoded (a second decode) is null in
    # both engines; the ENCODE of the decoded field is well-defined:
    assert row["base64_encoded"] == "aGVsbG8gd29ybGQ="
    assert row["ip_to_int"] == 3232235786
    assert row["array_first"] == "val1"
    assert row["obj_nested"] == "nested"  # nth(0) | get(one/two)
    assert row["file_name"] == "file.txt"
    assert row["file_path"] == "/home/user"
    assert row["url_domain"] == "example.com"
    assert row["url_uri"] == "/path/to/resource?foo=1&bar=2"
    assert row["url_params"] == "foo=1&bar=2"
    # string + aggregate surfaces
    assert row["splice"] == "foo:bar|baz:qux"
    assert row["extends"]["extend1"] == "ext_value_1"
    assert row["extends"]["extend2"] == "ext_value_2"


def test_match_comma_arms_and_or_conditions(spark):
    """match_functions.md OR syntax + match_prm.rs arm terminators: arms
    may end with ',' or ';' (both optional); '|' separates alternative
    conditions per position, including inside multi-source tuples."""
    from wp_motor_spark.oml.compiler import compile_oml

    oml = """
name : m
rule : r
---
tier = match read(city) {
    chars(bj) | chars(sh) | chars(gz) => chars(tier1),
    chars(cd) | chars(wh) => chars(tier2),
    _ => chars(other),
};
etype = match read(line) {
    starts_with('[ERROR]') | starts_with('[FATAL]') => chars(critical),
    starts_with('[WARN]') => chars(warning),
    _ => chars(info),
};
prio = match (read(city), read(level)) {
    (chars(bj) | chars(sh), chars(high)) => chars(priority),
    (chars(gz), chars(low) | chars(mid)) => chars(normal),
    _ => chars(default),
};
"""
    om = compile_oml(oml)
    df = spark.createDataFrame(
        [
            ("sh", "[FATAL] x", "high"),
            ("cd", "[WARN] y", "low"),
            ("gz", "ok", "mid"),
            ("xx", "z", "q"),
        ],
        ["city", "line", "level"],
    )
    got = [(r["tier"], r["etype"], r["prio"]) for r in om.apply(df).collect()]
    assert got == [
        ("tier1", "critical", "priority"),
        ("tier2", "warning", "default"),
        ("tier1", "info", "normal"),
        ("other", "info", "default"),
    ]


def test_privacy_section_masks_outputs(spark):
    """OML grammar 隐私段: a third `---` section declares per-field
    desensitization; masks keep the conventional structure (CN shapes)
    and non-matching values fall back to a full mask, never leaking."""
    from wp_motor_spark.oml.compiler import compile_oml

    oml = """
name : privacy_example
rule : r
---
src_ip = read(ip);
phone = read(ph);
card = read(idc);
mail = read(em);
dom = read(d);
pos_sn = read(sn);
---
src_ip : privacy_ip
phone : privacy_mobile
card : privacy_id_card
mail : privacy_mail
dom : privacy_domain
pos_sn : privacy_keymsg
"""
    om = compile_oml(oml)
    df = spark.createDataFrame(
        [(
            "10.20.30.40", "13812345678", "110101199001011234",
            "alice@example.com", "api.internal.example.com", "SN-777",
        ),
         ("not-an-ip", None, "bad", "bad", "bad", None)],
        ["ip", "ph", "idc", "em", "d", "sn"],
    )
    rows = om.apply(df).collect()
    assert rows[0].asDict() == {
        "src_ip": "10.20.*.*",
        "phone": "138****5678",
        "card": "110101********1234",
        "mail": "a***@example.com",
        "dom": "*.example.com",
        "pos_sn": "***",
    }
    # malformed values never leak through; NULLs stay NULL
    assert rows[1].asDict() == {
        "src_ip": "***", "phone": None, "card": "***",
        "mail": "***", "dom": "***", "pos_sn": None,
    }


def test_read_json_path_and_get_arg(spark):
    """Grammar read args: json_path (`read(/user/info/name)`, leading
    slash optional) descends struct/map/JSON-string values, and the
    `get :` arg navigates into the resolved value."""
    from wp_motor_spark.oml.compiler import compile_oml

    oml = """
name : m
rule : r
---
v1 = read(/user/info/name) ;
v2 = read(user/info/name) ;
v3 = read(g, get: f1) ;
v4 = read(in:[f1, f2]) | nth(0) ;
"""
    om = compile_oml(oml)
    df = spark.createDataFrame(
        [('{"info":{"name":"alice"}}', '{"f1":"gv"}', "x", "y")],
        ["user", "g", "f1", "f2"],
    )
    row = om.apply(df).first()
    assert row["v1"] == "alice" and row["v2"] == "alice"
    assert row["v3"] == "gv"


def test_map_to_typed_and_str_unescape(spark):
    """map_to types its constant by the ARG (other.rs MapValue: digit/
    float/bool/chars); str_unescape round-trips str_escape exactly."""
    from wp_motor_spark.oml.compiler import compile_oml

    oml = """
name : m
rule : r
---
a = read(x) | map_to('success') ;
b = read(x) | map_to(200) ;
c = read(x) | map_to(1.5) ;
d = read(x) | map_to(true) ;
rt = read(orig) | str_escape | str_unescape ;
"""
    om = compile_oml(oml)
    df = spark.createDataFrame([("v", "q'w\"e\\r")], ["x", "orig"])
    row = om.apply(df).first()
    assert (row["a"], row["b"], row["c"], row["d"]) == ("success", 200, 1.5, True)
    assert isinstance(row["b"], int) and isinstance(row["c"], float)
    assert row["rt"] == "q'w\"e\\r"


def test_glob_targets_and_hash_comments(spark):
    """目标通配: `alert* = take()` / `*_log = take()` pass matching input
    fields through under their own names; `#` comments parse like `//`."""
    from wp_motor_spark.oml.compiler import compile_oml

    oml = """
name : m
rule : r
---
# hash comment
// cpp comment
alert* = take() ;
*_log = take() ;
x = take(option:[nope]) { _ : chars(n/a) } ;
"""
    om = compile_oml(oml)
    df = spark.createDataFrame(
        [("A", "B", "L1", "other")], ["alert_a", "alert_b", "sys_log", "misc"]
    )
    assert om.apply(df).first().asDict() == {
        "alert_a": "A", "alert_b": "B", "sys_log": "L1", "x": "n/a",
    }


def test_sql_strict_mode_whitelist():
    """SQL strict mode (default on): columns must be '*' or
    [A-Za-z0-9_.]+ and the table a single plain name — functions in the
    column list or weird table tokens fail at model load."""
    import pytest as _pytest

    from wp_motor_spark.oml.parser import OmlParseError, parse_oml

    parse_oml("name : m\n---\na = select name, email from users "
              "where id = read(uid) ;")  # clean form loads
    with _pytest.raises(OmlParseError, match="strict mode"):
        parse_oml("name : m\n---\na = select a, b from table-1 "
                  "where id = read(uid) ;")  # dash in table name
    with _pytest.raises(OmlParseError):  # function column fails to parse
        parse_oml("name : m\n---\na = select sum(a) from t "
                  "where id = read(uid) ;")


def test_review_regressions_round6(spark):
    """r6 review fixes: a field literally named 'in' still reads; nested
    maps resolve multi-segment paths; map_to('200') (quoted) stays chars."""
    from wp_motor_spark.oml.compiler import compile_oml

    oml = """
name : m
rule : r
---
direction = read(in) ;
tier = read(labels/env/tier) ;
qs = read(x) | map_to('200') ;
"""
    om = compile_oml(oml)
    df = spark.createDataFrame(
        [("inbound", {"env": {"tier": "gold"}}, "v")],
        "in string, labels map<string,map<string,string>>, x string",
    )
    row = om.apply(df).first()
    assert row["direction"] == "inbound"
    assert row["tier"] == "gold"
    assert row["qs"] == "200" and isinstance(row["qs"], str)


def test_privacy_masks_passthrough_fields(spark):
    """`* = take()` passthrough must NOT bypass a declared privacy mask —
    the masked value is emitted, never the raw field (data-leak class)."""
    from wp_motor_spark.oml.compiler import compile_oml

    oml = """
name : m
rule : r
---
* = take() ;
---
client_ip : privacy_ip
"""
    om = compile_oml(oml)
    df = spark.createDataFrame([("10.20.30.40", "u1")], ["client_ip", "user"])
    row = om.apply(df).first()
    assert row["client_ip"] == "10.20.*.*"   # masked, not raw
    assert row["user"] == "u1"               # other passthrough untouched


def test_knowdb_builtin_sql_function_parity(spark):
    """The reference's built-in KnowDB SQL functions (sqlite_ext.rs,
    07-knowdb_config.md) as Column expressions — golden values lifted
    from sqlite_ext.rs test_ip4_scalar_funcs."""
    from wp_motor_spark import knowdb as K

    row = (
        spark.range(1)
        .select(
            K._ip4_int0(F.lit("1.2.3.4")).alias("ip_int"),
            K._ip4_int0(F.lit("not an ip")).alias("ip_bad"),
            K.ip4_text(F.lit(16909060)).alias("ip_text"),
            K.cidr4_min(F.lit("10.0.0.0/8")).alias("cmin"),
            K.cidr4_max(F.lit("10.0.0.0/8")).alias("cmax"),
            K.cidr4_min(F.lit("10.0.0.0/33")).alias("cbad"),
            K.cidr4_max(F.lit("10.0.0.0/0")).alias("call"),
            K.cidr4_contains(F.lit("10.1.2.3"), F.lit("10.0.0.0/8")).alias("in8"),
            K.cidr4_contains(F.lit("11.1.2.3"), F.lit("10.0.0.0/8")).alias("out8"),
            K.cidr4_contains(F.lit("10.1.2.3"), F.lit("junk")).alias("badcidr"),
            K.trim_quotes(F.lit('  "work_zone"  ')).alias("tq"),
            K.trim_quotes(F.lit("no_quotes")).alias("tq2"),
            K.trim_quotes(F.lit('\\"work_zone\\"')).alias("tq3"),
        )
        .collect()[0]
    )
    assert row["ip_int"] == 0x01020304 and row["ip_bad"] == 0
    assert row["ip_text"] == "1.2.3.4"
    assert row["cmin"] == 167772160 and row["cmax"] == 184549375
    assert row["cbad"] == 0 and row["call"] == 0xFFFFFFFF
    assert row["in8"] is True and row["out8"] is False and row["badcidr"] is False
    assert row["tq"] == "work_zone" and row["tq2"] == "no_quotes"
    assert row["tq3"] == "work_zone"


def test_ip4_between_unwrap_defaults(spark):
    """sqlite_ext.rs ip4_between: unparseable ip/start unwrap to
    u32::MAX, unparseable end to 0 — so invalid input compares FALSE,
    except the reference's quirky corollary (invalid ip AND start with
    end = 255.255.255.255 -> TRUE). Integer bound columns pass through
    the i64 branch."""
    from wp_motor_spark import knowdb as K

    row = (
        spark.range(1)
        .select(
            K.ip4_between(F.lit("10.0.0.5"), F.lit("10.0.0.1"),
                          F.lit("10.0.0.10")).alias("a"),
            K.ip4_between(F.lit("bad"), F.lit("10.0.0.1"),
                          F.lit("10.0.0.10")).alias("b"),
            K.ip4_between(F.lit("10.0.0.5"), F.lit("bad"),
                          F.lit("10.0.0.10")).alias("c"),
            K.ip4_between(F.lit("10.0.0.5"), F.lit("10.0.0.1"),
                          F.lit("bad")).alias("d"),
            K.ip4_between(F.lit("bad"), F.lit("bad"),
                          F.lit("255.255.255.255")).alias("quirk"),
            K.ip4_between(F.lit("10.0.0.5"), F.lit(167772161),
                          F.lit(167772170)).alias("intcols"),
            # i64 -> u32 wraps two's-complement: lo=-1 -> u32::MAX, so
            # the lower bound can never pass (sqlite_ext.rs `i as u32`)
            K.ip4_between(F.lit("10.0.0.5"), F.lit(-1),
                          F.lit(0xFFFFFFFF)).alias("neg_lo"),
            # hi=-1 wraps to u32::MAX -> upper bound always passes
            K.ip4_between(F.lit("10.0.0.5"), F.lit(167772161),
                          F.lit(-1)).alias("neg_hi"),
            # i64 beyond u32 truncates low 32 bits: 2^32+5 -> 5
            K.ip4_between(F.lit("0.0.0.3"), F.lit(0),
                          F.lit((1 << 32) + 5)).alias("wrap_hi"),
            # TEXT "123" is NOT an integer bound in SQLite (rusqlite
            # get::<i64> fails on TEXT) and fails the strict IP parse
            # -> lo unwraps to u32::MAX -> FALSE
            K.ip4_between(F.lit("10.0.0.5"), F.lit("123"),
                          F.lit("10.0.0.10")).alias("text_num_lo"),
            # ...and as end it unwraps to 0 -> FALSE
            K.ip4_between(F.lit("10.0.0.5"), F.lit("10.0.0.1"),
                          F.lit("4294967295")).alias("text_num_hi"),
        )
        .collect()[0]
    )
    assert row["a"] is True
    assert row["b"] is False and row["c"] is False and row["d"] is False
    assert row["quirk"] is True
    assert row["intcols"] is True
    assert row["neg_lo"] is False
    assert row["neg_hi"] is True
    assert row["wrap_hi"] is True
    assert row["text_num_lo"] is False and row["text_num_hi"] is False


def test_reference_pipe_eval_parity(spark):
    """Exact-value cases from the reference's pipe eval tests
    (core/evaluator/transform/pipe/{other,array_obj,net,path_url}.rs):
    path(name) normalizes backslashes first; url(host) carries the
    explicit non-default port; url(uri) includes query AND fragment
    (Position::BeforePath..); url(params) is '' (not null) when absent;
    skip_empty is type-aware (0 / 0.0 / [] / '' all Ignore);
    ip4_to_int; Time::to_ts family."""
    from wp_motor_spark.oml.compiler import compile_oml

    def run(oml, row, schema):
        return compile_oml(oml).apply(
            spark.createDataFrame([row], schema)
        ).collect()[0].asDict()

    r = run(
        "name : test\n---\nX : chars =  pipe take(A1) | path(name);\n",
        ("C:\\Users\\wplab\\AppData\\Local\\Temp\\B8A93152-2B59-426D-BE5F"
         "-5521D4D2D957\\api-ms-win-core-file-l1-2-1.dll",),
        "A1 string",
    )
    assert r["X"] == "api-ms-win-core-file-l1-2-1.dll"

    r = run(
        "name : test\n---\n"
        "A : chars =  pipe read(A1) | url(domain);\n"
        "B : chars =  pipe read(A1) | url(host);\n"
        "C : chars =  pipe read(A1) | url(uri);\n"
        "D : chars =  pipe read(A1) | url(path);\n"
        "E : chars =  pipe read(A1) | url(params);\n",
        ("https://a.b.com:8888/OneCollector/1.0?cors=true&content-type="
         "application/x-json-stream#id1",),
        "A1 string",
    )
    assert r["A"] == "a.b.com"
    assert r["B"] == "a.b.com:8888"
    assert r["C"] == ("/OneCollector/1.0?cors=true&content-type="
                      "application/x-json-stream#id1")
    assert r["D"] == "/OneCollector/1.0"
    assert r["E"] == "cors=true&content-type=application/x-json-stream"

    # default port normalized away like the url crate's Url::port()
    r = run(
        "name : test\n---\nB : chars =  pipe read(A1) | url(host);\n",
        ("https://a.b.com:443/x",),
        "A1 string",
    )
    assert r["B"] == "a.b.com"

    r = run(
        "name : test\n---\n"
        "Y  =  pipe  read(A1) | skip_empty ;\n"
        "Z  =  pipe  read(A2) | skip_empty ;\n"
        "W  =  pipe  read(A3) | skip_empty ;\n"
        "V  =  pipe  read(A4) | skip_empty ;\n",
        (0, [], 0.0, "keep"),
        "A1 long, A2 array<string>, A3 double, A4 string",
    )
    assert r["Y"] is None and r["Z"] is None and r["W"] is None
    assert r["V"] == "keep"

    r = run(
        "name : test\n---\nX  =  pipe  read(src_ip) | ip4_to_int ;\n",
        ("127.0.0.1",),
        "src_ip string",
    )
    assert r["X"] == 2130706433

    r = run(
        "name : test\n---\n"
        "Y  =  time(2000-10-10 0:0:0);\n"
        "X  =  pipe  read(Y) | Time::to_ts ;\n"
        "Z  =  pipe  read(Y) | Time::to_ts_ms ;\n"
        "U  =  pipe  read(Y) | Time::to_ts_us ;\n",
        ("x",),
        "A1 string",
    )
    assert (r["X"], r["Z"], r["U"]) == (971107200, 971107200000, 971107200000000)


def test_batch_glob_targets_with_bracket_indices(spark):
    """extract/basic/batch.rs test_value_arr1/2: glob targets sweep
    bracket-indexed flattened field names — `details[1*process_name`
    matches details[1]/... AND details[11]/... (take_wild_key accepts
    '[' ']' in wild names); `option[time]` call args must still tokenize
    as name + bracket (the optional-read spelling)."""
    from wp_motor_spark.oml.compiler import compile_oml

    cols = [
        "details[0]/process_name",
        "details[1]/process_name",
        "details[11]/process_name",
        "details[2]/process_name",
    ]
    df = spark.createDataFrame([("h1", "h2", "h2b", "h3")], cols)
    for glob, want in (("*", 4), ("details*", 4), ("details[1*process_name", 2)):
        out = compile_oml(f"name : t\n---\n{glob} = take() ;\n").apply(df)
        assert len(out.columns) == want, (glob, out.columns)
    out = compile_oml(
        "name : t\n---\ndetails[1*process_name = take() ;\n"
    ).apply(df)
    assert set(out.columns) == {
        "details[1]/process_name",
        "details[11]/process_name",
    }
