"""WPL golden tests against the reference's own fixture corpus.

Fixtures: the reference tree's tests/sample/* and tests/instance/wpl/* —
the same inputs the reference engine's integration tests consume
(SURVEY.md §5). Tests that read those files skip when the tree is absent;
the nginx rule and line are the in-repo F1 fixture,
tests/fixtures/example_simple/ (FIXTURES.md §F1).
"""

import base64
import json

import pytest
from pyspark.sql import functions as F

from conftest import REF, example_simple, needs_reference
from wp_motor_spark.wpl import MultiParser, compile_rule, parse_wpl

# F1 (FIXTURES.md): the example/simple nginx rule and its sample line
NGINX_WPL = example_simple("parse.wpl")
NGINX_LINE = example_simple("sample.dat").strip()


def test_parse_wpl_ast():
    rules = parse_wpl(NGINX_WPL)
    assert len(rules) == 1
    r = rules[0]
    assert r.key == "/example/simple/nginx"
    fields = r.groups[0].items
    assert fields[0].dtype == "ip" and fields[0].name == "sip"
    assert fields[1].dtype == "_" and fields[1].repeat == 2
    assert fields[2].fmt == ("[", "]")


def test_nginx_golden(spark):
    cr = compile_rule(parse_wpl(NGINX_WPL)[0])
    df = spark.createDataFrame([(NGINX_LINE,)], ["value"])
    row = cr.extract(df).collect()[0]
    assert row["sip"] == "192.168.1.2"
    assert str(row["recv_time"]) == "2019-08-06 04:12:19"  # UTC from +0800
    assert row["http_request"]["method"] == "GET"
    assert row["http_request"]["uri"] == "/nginx-logo.png"
    assert row["http_request"]["proto"] == "HTTP/1.1"
    assert row["http_status"] == 200
    assert row["digit"] == 368
    assert row["chars"] == "http://119.122.1.4/"
    assert row["http_agent"] == "Mozilla/5.0 (Macintosh)"
    assert row["_disposition"] == "success"
    assert row["_rule"] == "/example/simple/nginx"


@needs_reference
def test_nginx_sample_dat(spark):
    cr = compile_rule(parse_wpl(NGINX_WPL)[0])
    df = spark.read.text(f"{REF}/tests/sample/nginx/sample.dat")
    out = cr.extract(df)
    assert out.where(F.col("_disposition") == "success").count() == df.count()


def test_miss_and_residue(spark):
    cr = compile_rule(parse_wpl(NGINX_WPL)[0])
    ok = NGINX_LINE
    partial = NGINX_LINE + " tail"  # short tail (<20%) -> partial
    garbage = "not an access log line at all ..................."
    blank = "   "
    # Unicode White_Space only (ideographic space, no-break space): blank
    # as in the reference's str::trim, for extract and the cascade alike
    unicode_blanks = ["\u3000", "\u00a0"]
    df = spark.createDataFrame(
        [(v,) for v in [ok, partial, garbage, blank, *unicode_blanks]], ["value"]
    )
    extracted = cr.extract(df, keep=["value"]).collect()
    rows = {r["value"]: r["_disposition"] for r in extracted}
    assert rows[ok] == "success"
    assert rows[garbage] == "miss"
    assert rows[blank] == "blank"
    labeled = {r["value"]: r["_disposition"] for r in MultiParser([cr]).label(df).collect()}
    for v in unicode_blanks:
        assert rows[v] == labeled[v] == "blank", hex(ord(v))
    prow = [r for r in extracted if r["_disposition"] == "partial"]
    assert len(prow) == 1 and prow[0]["_residue"].strip() == "tail"


@needs_reference
def test_h3c_waf_base64_kv(spark):
    """F3: base64 preprocessor + scope fmt + bulk kv repeat."""
    wpl = open(f"{REF}/tests/sample/h3c_waf/parse.wpl").read()
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.read.text(f"{REF}/tests/sample/h3c_waf/sample.dat")
    row = cr.extract(df).collect()[0]
    assert row["_disposition"] == "success"
    assert row["digit"] == 188
    assert row["sn"] == "KMDLDLH3CW2020G2WAFA01"
    kv = row["kv"]
    assert kv["dip"] == "10.180.39.12"
    assert kv["url"] == "/OMS/uploadFile.action"
    assert kv["method"] == "POST"
    assert kv["rule_id"] == "70001"
    assert kv["action"] == "REJECT"


@needs_reference
def test_huawei_partial_corpus(spark):
    """F4: POLICYPERMIT lines match; SESSION_* lines miss (no CID= segment)."""
    wpl = open(f"{REF}/tests/sample/huawei_zhuru/parse.wpl").read()
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.read.text(f"{REF}/tests/sample/huawei_zhuru/sample.dat")
    out = cr.extract(df)
    counts = {r["_disposition"]: r["count"] for r in out.groupBy("_disposition").count().collect()}
    assert counts.get("success") == 2
    assert counts.get("miss") == 6
    ok = out.where(F.col("_disposition") == "success").collect()[0]
    assert ok["kv"]["CID"].startswith("0x")
    assert ok["kv_2"]["vsys"] == "CSG_Security"


@needs_reference
def test_benchmark_multirule_dispatch(spark):
    """F2: two comma-separated rules; first-match-wins labeling."""
    wpl = open(f"{REF}/tests/instance/wpl/benchmark/parse.wpl").read()
    mp = MultiParser(wpl)
    df = spark.read.text(f"{REF}/tests/instance/wpl/benchmark/sample.dat")
    labeled = mp.label(df)
    got = {
        (r["_rule"], r["_disposition"]): r["count"]
        for r in labeled.groupBy("_rule", "_disposition").count().collect()
    }
    assert got[("/benchmark/benchmark_1", "success")] == 1
    assert got[("/benchmark/benchmark_2", "success")] == 1
    parsed = mp.parse(df)
    b2 = parsed["/benchmark/benchmark_2"].collect()[0]
    assert b2["src_ip"] == "72.239.155.6"
    assert b2["port"] == 1649
    assert b2["http_request"]["method"] == "GET"


def test_preproc_base64_failure_is_miss(spark):
    wpl = "rule b64 { |base64|(chars:x) }"
    cr = compile_rule(parse_wpl(wpl)[0])
    good = base64.b64encode(b"hello").decode()
    df = spark.createDataFrame([(good,), ("!!!not-base64!!!",)], ["value"])
    rows = cr.extract(df).collect()
    by_disp = {r["_disposition"]: r for r in rows}
    assert by_disp["success"]["x"] == "hello"
    assert "miss" in by_disp


def test_wpl_guard_pipes(spark):
    wpl = 'rule g { (chars:lvl|chars_in([info,warn]),digit:code|digit_range(100,599)) }'
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.createDataFrame(
        [("info 200",), ("debug 200",), ("warn 999",)], ["value"]
    )
    rows = cr.extract(df).collect()
    disp = {r["lvl"]: r["_disposition"] for r in rows}
    assert disp["info"] == "success"
    assert disp["debug"] == "miss"
    assert disp["warn"] == "miss"


def test_guard_failure_falls_through_the_cascade(spark):
    """A row that matches a rule's pattern but fails its guard is that
    rule's miss, not a lost row: the first-match cascade moves on to the
    next rule (parser.rs:26-114), and a row every rule rejects reaches the
    miss channel. Pipe, id_card checksum and json validity guards alike."""
    from wp_motor_spark.pipeline import Pipeline

    wpl = """package /t {
  rule a { (digit:code | digit_in(1,2), chars:msg) }
  rule j { (symbol(J),json:doc) }
  rule c { (id_card:idc, chars:msg) }
  rule b { (digit:code, chars:msg) }
}"""
    bad_json = 'J {"a":1,"b":2,"c":  "a" : 1 } }'
    lines = [
        "1 ok", "7 bad", "x y z q", 'J {"a":1}', bad_json,
        "310104202002299069 ok", "310104202002299068 bad",
    ]
    df = spark.createDataFrame([(v,) for v in lines], ["value"])
    labeled = {
        r["value"]: (r["_rule"], r["_disposition"])
        for r in MultiParser(wpl).label(df).collect()
    }
    assert labeled == {
        "1 ok": ("/t/a", "success"),
        "7 bad": ("/t/b", "success"),
        "x y z q": (None, "miss"),
        'J {"a":1}': ("/t/j", "success"),
        bad_json: (None, "miss"),
        "310104202002299069 ok": ("/t/c", "success"),
        "310104202002299068 bad": ("/t/b", "success"),
    }

    branches = Pipeline(wpl).transform(df)
    routed = {(r["_rule"], r["code"]) for r in branches["default"].collect()}
    assert routed == {
        ("/t/a", 1), ("/t/b", 7), ("/t/j", None), ("/t/c", None),
        ("/t/b", 310104202002299068),
    }
    assert {r["value"] for r in branches["miss"].collect()} == {"x y z q", bad_json}


def test_duplicate_rule_key_is_a_compile_error():
    """Two rules with one package/name key would share one parse branch,
    so rows the first one labels would reach no channel: MultiParser
    refuses them and names the key."""
    from wp_motor_spark.wpl.compiler import WplCompileError

    wpl = "package p { rule r { (digit:a) } rule r { (symbol(x), chars:b) } }"
    with pytest.raises(WplCompileError, match="p/r"):
        MultiParser(wpl)


def test_tag_annotation(spark):
    wpl = '#[tag(env:"prod")] rule t { (digit:n) }'
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.createDataFrame([("42",)], ["value"])
    row = cr.extract(df).collect()[0]
    assert row["n"] == 42
    assert row["env"] == "prod"


def test_alt_group(spark):
    wpl = "rule a { (alt((ip:addr),(digit:num)),chars:rest) }"
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.createDataFrame([("1.2.3.4 x",), ("77 y",)], ["value"])
    rows = {r["rest"]: r for r in cr.extract(df).collect()}
    assert rows["x"]["addr"] == "1.2.3.4"
    assert rows["y"]["num"] == 77
    assert rows["y"]["addr"] is None


@needs_reference
def test_h3c_waf_golden(spark):
    """Base64-wrapped kv syslog (tests/sample/h3c_waf): preproc decode +
    scope digit + double timestamps + merged kv runs."""
    wpl = open(f"{REF}/tests/sample/h3c_waf/parse.wpl").read()
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.read.text(f"{REF}/tests/sample/h3c_waf/sample.dat")
    row = cr.extract(df).collect()[0]
    assert row["_disposition"] == "success"
    assert row["digit"] == 188  # <188> priority via scope format
    assert row["sn"] == "KMDLDLH3CW2020G2WAFA01"
    assert str(row["time_2"]) == "2023-05-17 08:54:06"
    kv = row["kv"]
    assert kv["method"] == "POST" and kv["rule_id"] == "70001"
    assert kv["url"] == "/OMS/uploadFile.action"
    assert kv["action"] == "REJECT"


@needs_reference
def test_huawei_zhuru_golden(spark):
    """Huawei USG base64 syslog (tests/sample/huawei_zhuru): only the two
    POLICY lines satisfy the kv(@CID) guard; SECLOG lines miss — the same
    accept/miss split the reference's rule produces."""
    wpl = open(f"{REF}/tests/sample/huawei_zhuru/parse.wpl").read()
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.read.text(f"{REF}/tests/sample/huawei_zhuru/sample.dat")
    out = cr.extract(df)
    ok = out.where(F.col("_disposition") == "success")
    assert df.count() == 8
    assert ok.count() == 2
    rows = ok.collect()
    assert all(r["sn"] == "KM-KJY-DC-USG12004-B02" for r in rows)
    assert all(r["kv"]["CID"] == "0x814f041e" for r in rows)  # the guard key
    assert all(r["kv_2"]["vsys"] == "CSG_Security" for r in rows)


def test_proto_text_field(spark):
    """proto_text tail field -> map of k: v pairs (protocol/proto_text.rs)."""
    wpl = 'rule pt { (digit:code,proto_text:body) }'
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.createDataFrame(
        [('7 name: "alpha beta" count: 3 ok: true',)], ["value"]
    )
    row = cr.extract(df).collect()[0]
    assert row["_disposition"] == "success"
    assert row["code"] == 7
    assert row["body"] == {"name": "alpha beta", "count": "3", "ok": "true"}


def test_miss_diagnostics(spark):
    """Deepest-failure diagnostics (parser.rs:82-113): missed rows carry
    the best-matching rule and how many leading fields it consumed."""
    wpl = """
rule a { (ip:sip,digit:code,chars:msg) }
rule b { (time_3339:ts,digit:n) }
"""
    mp = MultiParser(wpl)
    df = spark.createDataFrame(
        [
            ("1.2.3.4 200 hello",),        # parses (rule a)
            ("1.2.3.4 not-a-digit x",),    # rule a depth 1
            ("2024-01-01T00:00:00Z oops",),# rule b depth 1
        ],
        ["value"],
    )
    rows = {r["value"]: r for r in mp.diagnose(df).collect()}
    ok = rows["1.2.3.4 200 hello"]
    assert ok["_disposition"] == "success" and ok["_best_rule"] is None
    m1 = rows["1.2.3.4 not-a-digit x"]
    assert m1["_disposition"] == "miss"
    assert m1["_best_rule"] == "a" and m1["_parse_depth"] == 1
    m2 = rows["2024-01-01T00:00:00Z oops"]
    assert m2["_best_rule"] == "b" and m2["_parse_depth"] == 1


def test_auto_typed_cascade(spark):
    """factory.rs:28-39: `auto` tries Json -> Time -> IP -> KV -> Float ->
    Digit -> Hex -> Chars per VALUE. Each token below pins the winning
    parser's tag and the typed variant value. Integer tokens classify
    float (winnow's `float` accepts integer forms and precedes Digit,
    base/digit.rs:76-78); bare hex words classify hex (base/hex.rs:24)."""
    cr = compile_rule(parse_wpl("rule t { (digit:id,auto:val) }")[0])
    toks = [
        ('{"a":1}', "json", '{"a":1}'),
        ("2019-08-06 12:00:00", "time", '"2019-08-06 12:00:00+00:00"'),
        ("10.0.0.1", "ip", '"10.0.0.1"'),
        ("k=v", "kv", '{"k":"v"}'),
        ("a=1 b=2", "kv", '{"a":"1","b":"2"}'),
        ("3.14", "float", "3.14"),
        ("42", "float", "42.0"),       # winnow float shadows digit
        ("-1.5e3", "float", "-1500.0"),
        ("cafe", "hex", "51966"),      # bare hex word
        ("0xFF", "hex", "255"),
        ("hello-world", "chars", '"hello-world"'),
        ("GET", "chars", '"GET"'),     # 'G' not hex
    ]
    df = spark.createDataFrame(
        [(f"{i} {t}",) for i, (t, _, _) in enumerate(toks)], ["value"]
    )
    out = (
        cr.extract(df)
        .select("id", F.col("val.t").alias("t"), F.to_json("val.v").alias("v"))
        .orderBy("id")
        .collect()
    )
    for row, (tok, want_t, want_v) in zip(out, toks):
        assert row["t"] == want_t, f"{tok}: tag {row['t']} != {want_t}"
        assert row["v"] == want_v, f"{tok}: value {row['v']} != {want_v}"


def test_id_card_checksum(spark):
    """physical/id_card.rs: Identity::is_valid — GB 11643 ISO 7064 MOD 11-2
    check char + real birth date; invalid tokens make the rule MISS (the
    reference parser backtracks)."""
    cr = compile_rule(parse_wpl("rule t { (id_card:id,chars:tail) }")[0])
    rows = [
        ("310104202002299069 ok", "success"),   # reference test vector (leap day)
        ("310104202002299068 bad", "miss"),     # wrong check digit
        ("310104202102299069 bad", "miss"),     # 2021-02-29 not a real date
        ("31010420200229906X bad", "miss"),     # X where 9 expected
    ]
    df = spark.createDataFrame([(v,) for v, _ in rows], ["value"])
    got = {r["value"]: r["_disposition"] for r in cr.extract(df, keep=["value"]).collect()}
    for v, want in rows:
        assert got[v] == want, f"{v}: {got[v]} != {want}"


def test_exact_json_strict_schema(spark):
    """protocol/json_exact.rs test_json: exact_json(digit@a) must FAIL on
    {"a":1,"b":2} (undeclared key), while the full declaration parses;
    nested refs declare containers level by level."""
    data = '{"a":1,"b":2}'
    full = compile_rule(parse_wpl("rule t { (exact_json(digit@a,digit@b)) }")[0])
    part = compile_rule(parse_wpl("rule t { (exact_json(digit@a)) }")[0])
    df = spark.createDataFrame([(data,)], ["value"])
    assert full.extract(df).first()["_disposition"] == "success"
    assert part.extract(df).first()["_disposition"] == "miss"
    # nested: exact_json(digit@a,digit@b,digit@c/a) on {"a":1,"b":2,"c":{"a":1}}
    nested = compile_rule(
        parse_wpl("rule t { (exact_json(digit@a,digit@b,digit@c/a)) }")[0]
    )
    ok = spark.createDataFrame([('{"a":1,"b":2,"c":{"a":1}}',)], ["value"])
    extra = spark.createDataFrame([('{"a":1,"b":2,"c":{"a":1,"x":9}}',)], ["value"])
    assert nested.extract(ok).first()["_disposition"] == "success"
    assert nested.extract(extra).first()["_disposition"] == "miss"
    # plain json() stays lenient
    lenient = compile_rule(parse_wpl("rule t { (json(digit@a)) }")[0])
    assert lenient.extract(df).first()["_disposition"] == "success"


def test_some_of_any_order(spark):
    """group/some_of.rs test_some_of_group1/3: members match in ANY input
    order and any count; the group never fails (zero matches ok)."""
    wpl = "rule t { (some_of(ip:sip,digit:id),chars:tail) }"
    cr = compile_rule(parse_wpl(wpl)[0])
    rows = [
        "192.168.1.2 2002 end",   # declared order
        "2002 192.168.1.2 end",   # reversed order
        "2004 192.168.1.2 2002 end",  # repeat: digit twice, last wins
        "end",                    # zero members
    ]
    df = spark.createDataFrame([(v,) for v in rows], ["value"])
    got = {r["value"]: r for r in cr.extract(df, keep=["value"]).collect()}
    for v in rows:
        assert got[v]["_disposition"] == "success", (v, got[v])
        assert got[v]["tail"] == "end", (v, got[v])
    assert got[rows[0]]["sip"] == "192.168.1.2" and got[rows[0]]["id"] == 2002
    assert got[rows[1]]["sip"] == "192.168.1.2" and got[rows[1]]["id"] == 2002
    assert got[rows[2]]["id"] == 2002  # last occurrence
    assert got[rows[3]]["sip"] is None and got[rows[3]]["id"] is None


def test_auto_subfield_in_containers(spark):
    """factory.rs:28-39 applies CombinedParser to container values too:
    `auto@ref` subfields inside json/kvarr containers run the same typed
    cascade as field-level `auto`, yielding struct<t,v> (was: raw string
    in rounds <= 3; this golden pins the new behavior)."""
    cr = compile_rule(
        parse_wpl("rule t { (json(auto@code:code,auto@addr:addr,auto@msg:msg)) }")[0]
    )
    df = spark.createDataFrame(
        [('{"code":"42","addr":"10.0.0.1","msg":"hello-world"}',)], ["value"]
    )
    row = cr.extract(df).select(
        F.col("code.t").alias("ct"), F.to_json("code.v").alias("cv"),
        F.col("addr.t").alias("at"), F.to_json("addr.v").alias("av"),
        F.col("msg.t").alias("mt"), F.to_json("msg.v").alias("mv"),
    ).first()
    assert (row["ct"], row["cv"]) == ("float", "42.0")  # winnow float shadows digit
    assert (row["at"], row["av"]) == ("ip", '"10.0.0.1"')
    assert (row["mt"], row["mv"]) == ("chars", '"hello-world"')

    # kvarr container: same cascade on map values
    cr2 = compile_rule(parse_wpl("rule t { (kvarr(auto@port:port):m) }")[0])
    df2 = spark.createDataFrame([("port=443 host=a.example",)], ["value"])
    row2 = cr2.extract(df2).select(
        F.col("port.t").alias("t"), F.to_json("port.v").alias("v")
    ).first()
    assert (row2["t"], row2["v"]) == ("float", "443.0")


@needs_reference
def test_unquote_unescape_quota_golden(spark):
    """parser_functionality.rs should_parse_json_with_escaped_quotes +
    quotation.rs unit vectors: `unquote/unescape` drops every UNESCAPED
    double quote and resolves \\X -> X byte-wise (URL decoding — the
    rounds <= 3 implementation — is wrong for this builtin)."""
    wpl = 'package pkg { rule esc_1 {|unquote/unescape|(json:j)} }'
    cr = compile_rule(parse_wpl(wpl)[0])
    df = spark.read.text(f"{REF}/tests/sample/format/quota.dat")
    row = cr.extract(df).collect()[0]
    assert row["_disposition"] == "success"
    # bare json emits the flattened remainder map (r12, test_json_protocol):
    # leaf literals as strings — the digit 1 keeps its source literal
    assert row["j"] == {"a": "1", "b": " 中国 "}

    # quotation.rs unit vectors through the preproc directly
    from wp_motor_spark.wpl.preproc import apply_preprocs

    vectors = [
        ('"hello"', "hello"),
        ('"<14>"', "<14>"),
        ('"{ \\"a\\" = 1, \\"b\\" = \\" 中国 \\" }"', '{ "a" = 1, "b" = " 中国 " }'),
        ('"test with \\"quotes\\" and \\backslash"', 'test with "quotes" and backslash'),
        ("a\\", "a"),          # trailing lone backslash dropped
        ("a\\\\b", "a\\b"),    # escaped backslash survives
    ]
    df2 = spark.createDataFrame([(v,) for v, _ in vectors], ["value"])
    out = df2.select(
        "value", apply_preprocs(F.col("value"), ["unquote/unescape"]).alias("u")
    ).collect()
    got_map = {r["value"]: r["u"] for r in out}
    for v, want in vectors:
        assert got_map[v] == want, f"{v!r}: {got_map[v]!r} != {want!r}"


def test_domain_email_reference_vectors(spark):
    """network/domain.rs + email.rs unit vectors: domain labels must start
    and end alphanumeric (leading '-' rejected) and cap at 67 chars; email
    accepts +/_/- forms."""
    cr = compile_rule(parse_wpl("rule d { (domain:d,chars:tail) }")[0])
    rows = [
        ("1-test.warppase.ai ok", "success"),
        ("-1-test.warppase.ai bad", "miss"),   # leading hyphen label
        ("www.s123/df.com bad", "miss"),       # slash not domain-class
        (("a" * 30 + "." + "b" * 30 + ".example.com x"), "miss"),  # > 67 chars
    ]
    df = spark.createDataFrame([(v,) for v, _ in rows], ["value"])
    got = {r["value"]: r["_disposition"] for r in cr.extract(df, keep=["value"]).collect()}
    for v, want in rows:
        assert got[v] == want, f"{v!r}: {got[v]} != {want}"

    cr2 = compile_rule(parse_wpl("rule e { (email:em,chars:tail) }")[0])
    ok = ["johnjoke@example.com", "user+tag@example-domain.com",
          "first_last@example.com", "foo-bar@example.co"]
    df2 = spark.createDataFrame([(f"{e} x",) for e in ok], ["value"])
    out = cr2.extract(df2).collect()
    assert all(r["_disposition"] == "success" for r in out)
    assert {r["em"] for r in out} == set(ok)


def test_http_request_method_validation(spark):
    """http.rs RequestP vectors: the method token is validated against the
    fixed set ('GETX ...' must MISS); separators are multispace1 (double
    spaces parse); protocol must be literal HTTP/ + dotted version."""
    cr = compile_rule(parse_wpl("rule h { (http/request:req,digit:code) }")[0])
    rows = [
        ("GET /hello.png HTTP/1.1 200", "success"),
        ("GET  /hello.png  HTTP/1.1 200", "success"),   # multispace1
        ("GETX /hello.png HTTP/1.1 200", "miss"),       # unknown method
        ("GET /hello.png FTP/1.1 200", "miss"),         # not HTTP/
        ("CONNECT host:443 HTTP/2 200", "success"),
    ]
    df = spark.createDataFrame([(v,) for v, _ in rows], ["value"])
    got = {
        r["value"]: (r["_disposition"], r["req"])
        for r in cr.extract(df, keep=["value"]).collect()
    }
    for v, want in rows:
        assert got[v][0] == want, f"{v!r}: {got[v][0]} != {want}"
    assert got["GET /hello.png HTTP/1.1 200"][1]["method"] == "GET"
    assert got["GET  /hello.png  HTTP/1.1 200"][1]["uri"] == "/hello.png"


def test_adaptive_reorder_by_hit_count(spark):
    """parser.rs:119-134 `optimized()`: rules resort by sampled hit count
    (desc, ties by declared index); with disjoint rules the labeled output
    is identical in both orders, and the hot rule moves to the front of
    the compiled cascade."""
    wpl = (
        "rule cold { (symbol(#),digit:n) }\n"
        "rule hot { (ip:src,digit:port) }\n"
    )
    mp = MultiParser(wpl)
    rows = [(f"10.0.0.{i % 250} {i}",) for i in range(90)]
    rows += [(f"#{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, ["value"])

    counts = mp.hit_counts(df)
    assert counts["hot"] == 90 and counts["cold"] == 10

    opt = mp.optimized(df)
    assert [cr.key for cr in opt.rules] == ["hot", "cold"]
    # ties fall back to declared index (parser.rs:125-127)
    tied = mp.optimized(counts={"hot": 5, "cold": 5})
    assert [cr.key for cr in tied.rules] == ["cold", "hot"]

    def snap(parser):
        return sorted(
            (r["value"], r["_rule"], r["_disposition"], r["_residue"])
            for r in parser.label(df).collect()
        )

    base = snap(mp)
    assert snap(opt) == base
    # hit rows labeled with the right rule either way
    assert sum(1 for _, rule, _, _ in base if rule == "hot") == 90


@needs_reference
def test_reference_benchmark_rules_full_extraction(spark):
    """The reference's own 27-field benchmark rules against its own sample
    lines (tests/instance/wpl/benchmark): every typed field — times, SNs,
    ips, kv maps, http/request structs — must extract with disposition
    success, and the first-match cascade must route each line to its rule."""
    inst = f"{REF}/tests/instance/wpl/benchmark"
    rules = parse_wpl(open(f"{inst}/parse.wpl").read())
    assert [r.key for r in rules] == [
        "/benchmark/benchmark_1",
        "/benchmark/benchmark_2",
    ]
    raw = spark.read.text(f"{inst}/sample.dat")
    labeled = {
        r["_rule"]: r["_disposition"]
        for r in MultiParser(rules).label(raw).collect()
    }
    assert labeled == {
        "/benchmark/benchmark_1": "success",
        "/benchmark/benchmark_2": "success",
    }

    lines = open(f"{inst}/sample.dat").read().splitlines()
    r1 = (
        compile_rule(rules[0])
        .extract(spark.createDataFrame([(lines[0],)], ["value"]))
        .collect()[0]
        .asDict()
    )
    assert r1["_disposition"] == "success"
    assert r1["id"] == 1407 and r1["len"] == 509
    assert r1["sn"] == "WCY7-ZT-QEAK-N6PD"
    assert r1["ip"] == "111.237.105.120"
    assert r1["time"].isoformat() == "2021-04-20T18:10:19"
    assert r1["http_request"]["method"] == "GET"
    assert r1["http_request"]["uri"] == "/index"
    assert r1["kv"]["Tv7"] == "9WxLPktFSMRBH4WRUCiBkmh2swZLod"

    r2 = (
        compile_rule(rules[1])
        .extract(spark.createDataFrame([(lines[1],)], ["value"]))
        .collect()[0]
        .asDict()
    )
    assert r2["_disposition"] == "success"
    assert r2["src_ip"] == "72.239.155.6" and r2["dst_ip"] == "109.58.83.177"
    assert r2["port"] == 1649 and r2["port_2"] == 871
    assert r2["time"].isoformat() == "2021-02-11T05:58:51"
    assert len(r2["kv"]) == 8


@needs_reference
def test_actor_workflow_h3c_base64_golden(spark):
    """Reference tests/actor_workflows.rs::actor_workflows_process_http_logs
    _with_base64_decoding: the inline rule |decode/base64|(digit:id<<,>>,
    time,sn,time,*_) over the h3c_waf sample's first line. The year-less
    syslog timestamp ("May 17 08:54:06") must be filled with the CURRENT
    year (time/rfc.rs parse_date_4) — the reference's expected output
    pins exactly that; the explicit-year second timestamp stays 2023."""
    import datetime

    rule = r"package /test_pkg { rule test {|decode/base64|(digit:id<<,>>,time,sn,time,*_)} }"
    cr = compile_rule(parse_wpl(rule)[0])
    df = spark.read.text(f"{REF}/tests/sample/h3c_waf/sample.dat").limit(1)
    row = cr.extract(df).collect()[0]
    assert row["_disposition"] == "success"
    assert row["id"] == 188
    assert row["sn"] == "KMDLDLH3CW2020G2WAFA01"
    year = datetime.date.today().year
    assert row["time"].isoformat() == f"{year}-05-17T08:54:06"
    assert row["time_2"].isoformat() == "2023-05-17T08:54:06"


def test_take_last_field_selectors(spark):
    """take(name)/last() pipe selectors (eval/runtime/field_pipe.rs; the
    json.rs rule tests): take() retargets subsequent guards AND
    transforms to the named subfield; last() selects the final field."""
    r1 = compile_rule(parse_wpl(
        "rule nginx { (json(chars@name,chars@code) | take(name) "
        "| chars_has(-99) | take(code) | chars_has(aaa)) }"
    )[0])
    df = spark.createDataFrame(
        [
            ('{"name":"-99","code":"aaa"}',),
            ('{"name":"-99","code":"bbb"}',),
            ('{"name":"x","code":"aaa"}',),
        ],
        ["value"],
    )
    disp = {
        r["value"]: r["_disposition"]
        for r in r1.extract(df, keep=["value"]).collect()
    }
    assert disp['{"name":"-99","code":"aaa"}'] == "success"
    assert disp['{"name":"-99","code":"bbb"}'] == "miss"
    assert disp['{"name":"x","code":"aaa"}'] == "miss"

    # take() retargets TRANSFORMS per subfield (json.rs:464)
    r2 = compile_rule(parse_wpl(
        "rule t {(json(chars@path,chars@txt) | take(path) | json_unescape() "
        "| take(txt) | json_unescape())}"
    )[0])
    df2 = spark.createDataFrame(
        [('{"path":"a\\\\nb","txt":"c\\\\td"}',)], ["value"]
    )
    row = r2.extract(df2).collect()[0]
    assert row["path"] == r"a\nb" and row["txt"] == r"c\td"

    # last() -> the final extracted field
    r3 = compile_rule(
        parse_wpl("rule l { (chars:a,digit:b | last() | digit_has(7)) }")[0]
    )
    df3 = spark.createDataFrame([("x 7",), ("x 8",)], ["value"])
    disp3 = {
        r["value"]: r["_disposition"]
        for r in r3.extract(df3, keep=["value"]).collect()
    }
    assert disp3 == {"x 7": "success", "x 8": "miss"}


def test_complete_types_example_golden(spark):
    """The reference's own 23-type showcase (docs/usage/zh/03-wpl/
    07-complete-types-example.md): the 21 consuming types over the doc's
    exact input line, every value matching the documented output (times
    shifted to UTC). Also covers pre-name format marks (chars":name,
    time/clf<[,]>:name), the 0x hex prefix, and RFC2822 weekday parsing.

    The doc's peek_symbol+symbol combination is internally inconsistent
    (parse_peek does not consume, so the following literal cannot match)
    and is tested separately below with faithful zero-width semantics."""
    rule_text = """package wpl_example {
      rule full_types {
        (
          bool:bool_val, chars":quoted_str, digit:integer, float:float_val,
          time_3339:time_iso, time_3339:time_rfc3339, time_2822:time_rfc2822,
          time/clf<[,]>:time_clf, time_timestamp:timestamp, ip:ip_addr,
          ip_net:ip_network, kvarr(chars@name):kv_data,
          json(bool@strict):json_data, http/request":http_req,
          http/status:http_status, http/agent":user_agent,
          http/method":http_method, port:port_num, sn:serial, hex:hex_data,
          base64:base64_data
        )
      }
    }"""
    line = (
        'true "hello world" 123 3.14 2026-01-19T12:34:56Z '
        "2022-03-21T12:34:56+00:00 Mon, 07 Jul 2025 09:20:32 +0000 "
        "[06/Aug/2019:12:12:19 +0800] 1647849600 192.168.1.100 "
        '192.168.0.0/24 name=test {"strict":true} "GET /api/users HTTP/1.1" '
        '200 "Mozilla/5.0" "POST" 8080 ABC123XYZ 0x1A2B YmFzZTY0ZGF0YQ=='
    )
    cr = compile_rule(parse_wpl(rule_text)[0])
    row = cr.extract(spark.createDataFrame([(line,)], ["value"])).collect()[0]
    assert row["_disposition"] == "success"
    assert row["bool_val"] is True
    assert row["quoted_str"] == "hello world"
    assert row["integer"] == 123 and row["float_val"] == 3.14
    assert row["time_iso"].isoformat() == "2026-01-19T12:34:56"
    assert row["time_rfc3339"].isoformat() == "2022-03-21T12:34:56"
    assert row["time_rfc2822"].isoformat() == "2025-07-07T09:20:32"
    assert row["time_clf"].isoformat() == "2019-08-06T04:12:19"  # +0800->UTC
    assert row["timestamp"].isoformat() == "2022-03-21T08:00:00"
    assert row["ip_addr"] == "192.168.1.100"
    assert row["ip_network"] == "192.168.0.0/24"
    assert row["kv_data"] == {"name": "test"} and row["name"] == "test"
    assert row["strict"] is True
    assert row["http_req"]["method"] == "GET"
    assert row["http_req"]["uri"] == "/api/users"
    assert row["http_status"] == 200
    assert row["user_agent"] == "Mozilla/5.0"
    assert row["http_method"] == "POST"
    assert row["port_num"] == 8080
    assert row["serial"] == "ABC123XYZ"
    assert row["hex_data"] == "0x1A2B"
    assert row["base64_data"] == "YmFzZTY0ZGF0YQ=="


def test_peek_symbol_zero_width_capture(spark):
    """peek_symbol (base/symbol.rs parse_peek): asserts without consuming
    — the NEXT field matches the SAME text; a NAMED peek captures it."""
    cr = compile_rule(
        parse_wpl("rule p { (peek_symbol(GET):m,http/method:meth,*_) }")[0]
    )
    df = spark.createDataFrame([("GET /x",), ("POST /x",)], ["value"])
    out = {
        r["value"]: (r["_disposition"], r.asDict().get("m"), r.asDict().get("meth"))
        for r in cr.extract(df, keep=["value"]).collect()
    }
    # zero-width: the method field consumed the very token the peek saw
    assert out["GET /x"] == ("success", "GET", "GET")
    assert out["POST /x"][0] == "miss"  # peek assertion fails the rule


def test_quoted_take_field_names():
    """take() quoting forms (docs 03-wpl/examples/take_quoted_demo.wpl):
    bare identifiers, double-quoted names with full escapes, single-quoted
    raw strings where only \\' is escaped and backslashes stay literal."""
    from wp_motor_spark.wpl.parser import parse_wpl

    rules = parse_wpl(
        'rule q { (kv | take("@timestamp") | take("field\\"name") '
        "| take('field\\'s name') | take('path\\\\to\\\\file') "
        "| take('C:\\Windows\\System32') | take(simple_field)) }"
    )
    calls = [c for c in rules[0].groups[0].items[0].pipes if c.name == "take"]
    assert [c.args[0] for c in calls] == [
        "@timestamp",
        'field"name',
        "field's name",
        "path\\\\to\\\\file",  # single-quote raw: \\ stays literal
        "C:\\Windows\\System32",
        "simple_field",
    ]


def test_strip_bom_all_positions(spark):
    """strip/bom removes BOM marks at ALL positions, not just leading
    (bom.rs remove_all_boms full-scan): U+FEFF is what a UTF-8 BOM decodes
    to in a string column; interior and repeated marks all go."""
    from wp_motor_spark.wpl.preproc import apply_preprocs

    rows = [
        ("﻿Hello",),              # leading
        ("Hel﻿lo",),              # interior
        ("﻿﻿a﻿b﻿",),  # repeated everywhere
        ("clean",),
    ]
    df = spark.createDataFrame(rows, ["value"]).select(
        apply_preprocs(F.col("value"), ["strip/bom"]).alias("s")
    )
    assert [r["s"] for r in df.collect()] == ["Hello", "Hello", "ab", "clean"]


def test_quoted_json_field_refs(spark):
    """@'...'/@"..." quoted refs (field_reference.md): LITERAL top-level
    key names — dots, dashes, @ and slashes inside a quoted ref never
    become path segments, while unquoted refs keep a/b nesting."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    rule = parse_wpl(
        "rule j { (json(chars@'@client-ip':client, chars@'event.type':etype, "
        "chars@'log/level':lvl, chars@proc/name:pname)) }"
    )[0]
    subs = rule.groups[0].items[0].subfields
    assert [(s.ref, s.quoted) for s in subs] == [
        ("@client-ip", True),
        ("event.type", True),
        ("log/level", True),
        ("proc/name", False),
    ]
    cr = compile_rule(rule)
    df = spark.createDataFrame(
        [(
            '{"@client-ip":"1.2.3.4","event.type":"login",'
            '"log/level":"warn","proc":{"name":"sshd"}}',
        )],
        ["value"],
    )
    row = cr.extract(df).first()
    assert row["_disposition"] == "success"
    assert row["client"] == "1.2.3.4"
    assert row["etype"] == "login"    # literal key, not nested event->type
    assert row["lvl"] == "warn"       # literal key, not nested log->level
    assert row["pname"] == "sshd"     # unquoted proc/name IS nested


def test_malformed_subfield_raises_not_hangs():
    """A stray token inside json(...) must raise a syntax error — the
    subfield loop previously failed to advance and spun forever."""
    import pytest as _pytest

    from wp_motor_spark.wpl.parser import WplSyntaxError, parse_wpl

    with _pytest.raises(WplSyntaxError, match="bad subfield|expected"):
        parse_wpl("rule j { (json(chars@a:b, %bogus)) }")


def test_json_ref_array_index_and_wildcard(spark):
    """Array refs (field_reference.md): @items[0] indexes, @data[5]/value
    nests through an element, and a bare '*' segment is the array
    wildcard (@logs/*/message collects every element's key)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    rule = parse_wpl(
        "rule j { (json(chars@items[0]:first, chars@data[5]/value:v5, "
        "chars@logs/*/message:msgs)) }"
    )[0]
    cr = compile_rule(rule)
    df = spark.createDataFrame(
        [(
            '{"items":[10,20],"data":[0,1,2,3,4,{"value":"v5"}],'
            '"logs":[{"message":"m1"},{"message":"m2"}]}',
        )],
        ["value"],
    )
    row = cr.extract(df).first()
    assert row["first"] == "10"
    assert row["v5"] == "v5"
    assert row["msgs"] == '["m1","m2"]'


def test_shortcut_separators(spark):
    """Shortcut separators (wpl_sep.rs:59-66 + separator.md): \\s = space,
    \\t = tab (TSV fields may contain spaces), \\S = space-or-tab,
    \\0 = end-of-line (field takes the rest, even containing '0')."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    cases = [
        (r"rule a { (chars:ip\s,chars:method\s,chars:path) }",
         "192.168.1.1 GET /api/users",
         {"ip": "192.168.1.1", "method": "GET", "path": "/api/users"}),
        (r"rule b { (chars:u\t,chars:age\t,chars:city) }",
         "user one\t2 5\tBei jing",
         {"u": "user one", "age": "2 5", "city": "Bei jing"}),
        (r"rule c { (chars:c1\S,chars:c2\S,chars:c3) }",
         "field1 field2\tfield3",
         {"c1": "field1", "c2": "field2", "c3": "field3"}),
        (r"rule d { (chars:prefix,chars:rest\0) }",
         "prefix_value tail with 0 inside",
         {"prefix": "prefix_value", "rest": "tail with 0 inside"}),
    ]
    for wpl, line, want in cases:
        cr = compile_rule(parse_wpl(wpl)[0])
        row = cr.extract(spark.createDataFrame([(line,)], ["value"])).first()
        assert row["_disposition"] == "success", (wpl, row)
        for k, v in want.items():
            assert row[k] == v, (wpl, k, row[k], v)


def test_subfield_format_and_pipes(spark):
    """Grammar: subfield = [type][@ref][:name][format][sep]{pipe} — the
    quote fmt parses (inert: JSON strings are already unquoted) and
    transform pipes apply to the extracted subfield value."""
    import base64

    from wp_motor_spark.wpl import compile_rule, parse_wpl

    b64 = base64.b64encode(b"hello world").decode()
    cases = [
        ('rule a { (json(chars"@msg:alias)) }', '{"msg":"hi"}',
         {"alias": "hi"}),
        ('rule b { (json(chars@enc:dec | base64_decode())) }',
         '{"enc":"%s"}' % b64, {"dec": "hello world"}),
        ('rule c { (kvarr(chars@k:v | chars_replace(error,warning))) }',
         "k=error_code x=1", {"v": "warning_code"}),
    ]
    for txt, line, want in cases:
        cr = compile_rule(parse_wpl(txt)[0])
        row = cr.extract(spark.createDataFrame([(line,)], ["value"])).first()
        for k, v in want.items():
            assert row[k] == v, (txt, k, row[k])


def test_guard_null_semantics_missing_field(spark):
    """pipe_fun.rs NULL discipline: positive guards FAIL on a missing
    field (CharsHas/DigitRange process(None) -> Err); chars_not_has and
    not(...) SUCCEED ('field doesn't exist -> TRUE, permissive')."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    line = '{"a":"x"}'  # field b absent

    def disp(wpl):
        cr = compile_rule(parse_wpl(wpl)[0])
        return cr.extract(
            spark.createDataFrame([(line,)], ["value"])
        ).first()["_disposition"]

    # positive guard on missing field -> miss
    assert disp('rule t { (json(chars@a) | take(b) | chars_has(x)) }') == "miss"
    assert disp('rule t { (json(chars@a) | take(b) | digit_range(1,9)) }') == "miss"
    # permissive negative forms on missing field -> success
    assert disp('rule t { (json(chars@a) | take(b) | chars_not_has(x)) }') == "success"
    assert disp('rule t { (json(chars@a) | take(b) | not(chars_has(x))) }') == "success"
    # sanity: guard against the PRESENT field still works both ways
    assert disp('rule t { (json(chars@a) | take(a) | chars_has(x)) }') == "success"
    assert disp('rule t { (json(chars@a) | take(a) | chars_has(y)) }') == "miss"


def test_pipe_group_reparse(spark):
    """wpl_group.rs test_parse_group_pipe/pipe3/pipe3_1 + assemble_pipe
    PipeEnum::Group: a field OR json-subfield value piped into a nested
    group is RE-PARSED by that group; a plain chars field re-parses
    DIRECTLY (no transport decode — only base64/hex decode first).
    Previously a chars-field pipe group wrongly unbase64'd the text
    (NULL outputs), and the subfield form didn't parse at all."""
    def run(rule, line):
        cr = compile_rule(parse_wpl(rule)[0])
        return cr.extract(
            spark.createDataFrame([(line,)], ["value"])
        ).collect()[0]

    r = run(r'package /t { rule r { (chars:src_sys" |(time:ts,ip:sip)) } }',
            '"2023-05-15 09:22:44 10.0.0.7"')
    assert r["_disposition"] == "success"
    assert str(r["ts"]) == "2023-05-15 09:22:44" and r["sip"] == "10.0.0.7"

    import base64 as _b64

    enc = _b64.b64encode(b"2023-05-15 09:22:44 10.0.0.7").decode()
    r = run(r"package /t { rule r { (base64 | (time:ts,ip:sip)) } }", enc)
    assert r["_disposition"] == "success" and r["sip"] == "10.0.0.7"

    r = run(r'package /t { rule r { ( json(chars@src_sys | (time:ts,ip:sip) ) ) } }',
            '{"src_sys":"2023-05-15 09:22:44 10.0.0.7"}')
    assert r["_disposition"] == "success"
    assert str(r["ts"]) == "2023-05-15 09:22:44" and r["sip"] == "10.0.0.7"

    # kv form with the group's own separator (wpl_group.rs pipe4_1)
    r = run(r'package /t { rule r { ( kv(chars@src_sys | (time:ts,ip:sip)\! ) ) } }',
            'src_sys="2023-05-15 09:22:44!10.0.0.7"')
    assert r["_disposition"] == "success"
    assert str(r["ts"]) == "2023-05-15 09:22:44" and r["sip"] == "10.0.0.7"


def test_plg_pipe_hyphenated_name(spark):
    """vm_unit.rs preorder_plg_pipe_unit_executes registers
    'plg_pipe/MOCK-STAGE' — plugin names carry hyphens; the preproc-step
    charset must accept them (it stopped at '-' before)."""
    from wp_motor_spark.wpl.registry import register_plg_pipe

    register_plg_pipe("MOCK-STAGE", lambda c: F.concat(c, F.lit("-mock")))
    cr = compile_rule(
        parse_wpl("rule t { |plg_pipe/MOCK-STAGE|(chars:x) }")[0]
    )
    row = cr.extract(
        spark.createDataFrame([("data",)], ["value"])
    ).collect()[0]
    assert row["_disposition"] == "success" and row["x"] == "data-mock"


def test_plg_pipe_block_form(spark):
    """Grammar plg_pipe_block: ["@"]? plg_pipe(id: key) { express } — the
    registered plugin preprocessor wraps the whole express."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl
    from wp_motor_spark.wpl.registry import register_plg_pipe

    register_plg_pipe("upper_t", lambda c: F.upper(c))
    for txt in (
        "rule a { plg_pipe(id: upper_t) { (chars:x,digit:n) } }",
        "rule b { @plg_pipe(id: upper_t) { (chars:x,digit:n) } }",
    ):
        r = parse_wpl(txt)[0]
        assert r.preprocs == ["plg_pipe/upper_t"]
        row = compile_rule(r).extract(
            spark.createDataFrame([("hey 7",)], ["value"])
        ).first()
        assert (row["x"], row["n"], row["_disposition"]) == ("HEY", 7, "success")


def test_exact_json_wildcard_prefix_registers_keys(spark):
    """Regression: an exact_json wildcard path ref must still register
    its non-wildcard PREFIX keys — otherwise the parent level rejects
    every record that HAS the declared field."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    cr = compile_rule(
        parse_wpl(
            "rule t { (exact_json(chars@type:ty, chars@logs/*/message:msgs)) }"
        )[0]
    )
    good = '{"type":"x","logs":[{"message":"m1"},{"message":"m2"}]}'
    extra = '{"type":"x","logs":[],"unexpected":1}'
    df = spark.createDataFrame([(good,), (extra,)], ["value"])
    rows = cr.extract(df, keep=["value"]).collect()
    disp = {r["value"]: r["_disposition"] for r in rows}
    assert disp[good] == "success"      # wildcard field present -> match
    assert disp[extra] == "miss"        # undeclared key still rejected
    ok = [r for r in rows if r["_disposition"] == "success"][0]
    assert ok["msgs"] == '["m1","m2"]'


def test_plg_pipe_registry_is_case_insensitive(spark):
    """registry.rs uppercases names on both register (:18) and create
    (:23), so plg_pipe ids resolve case-insensitively."""
    from wp_motor_spark.wpl.registry import get_plg_pipe, register_plg_pipe

    register_plg_pipe("Mixed-Case", lambda c: F.upper(c))
    assert get_plg_pipe("mixed-case") is get_plg_pipe("MIXED-CASE")
    row = (
        spark.createDataFrame([("ab",)], ["v"])
        .select(get_plg_pipe("mIxEd-CaSe")(F.col("v")).alias("u"))
        .collect()[0]
    )
    assert row["u"] == "AB"


def test_json_field_guards_address_into_the_object(spark):
    """The reference flattens parsed json keys into record fields
    (protocol/json.rs), so pipe guards address them: f_has(key) checks
    key EXISTENCE — a JSON null emits NO field (json_impl.rs
    proc_value Value::Null is a no-op), so f_has on it misses (r12 fix;
    the pre-r12 expectation of 'null still exists' contradicted the
    reference source). take(key) retargets the active field into the
    object, and digit guards coerce the extracted string safely."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def probe(rule_text, lines):
        cr = compile_rule(parse_wpl(rule_text)[0])
        df = spark.createDataFrame([(l,) for l in lines], ["value"])
        rows = cr.extract(df, keep=["value"]).select(
            "value", "_disposition"
        ).collect()
        return {r["value"]: r["_disposition"] for r in rows}

    assert probe(
        "rule a { (json | f_has(src)) }",
        ['{"src":"a"}', '{"dst":"b"}', '{"src":null}'],
    ) == {'{"src":"a"}': "success", '{"dst":"b"}': "miss",
          '{"src":null}': "miss"}
    assert probe(
        "rule b { (json | take(status) | digit_range(200,299)) }",
        ['{"status":200}', '{"status":404}', '{"status":"204"}'],
    ) == {'{"status":200}': "success", '{"status":404}': "miss",
          '{"status":"204"}': "success"}
    assert probe(
        'rule c { (json | f_chars_has(level,"error")) }',
        ['{"level":"error"}', '{"level":"info"}'],
    ) == {'{"level":"error"}': "success", '{"level":"info"}': "miss"}


def test_underscore_target_means_active_field(spark):
    """normalize_target (ast/processor/function.rs:215): `_` as the f_*
    target selects the ACTIVE field — f_chars_has(_, v) == chars_has(v)
    (wpl_fun.rs:801 parser test)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    cr = compile_rule(parse_wpl("rule a { (chars:t|f_chars_has(_,foo)) }")[0])
    df = spark.createDataFrame([("foo",), ("bar",)], ["value"])
    rows = cr.extract(df, keep=["value"]).select("value", "_disposition").collect()
    assert {r["value"]: r["_disposition"] for r in rows} == {
        "foo": "success", "bar": "miss",
    }


def test_reference_eval_mod_test_parity(spark):
    """Every case from the reference's eval/mod_test.rs, disposition-
    compared: assert_suc cases must land in {success, partial} (the
    reference's proc-Ok tolerates a small unparsed tail) and report_err
    cases must miss. Covers the r10 grammar/semantics fixes: subfield
    scope fmt after @ref order (`time<[,]>@curr` = TWO subfields per
    wpl_id_field), symbol(args) subfields as equality guards, kv ':' and
    '=' pair separators, pattern-first typed kv values (time spans the
    field separator), and leading-whitespace tolerance (mechanism.rs
    multispace0)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    CASES = [
        (r"(ip,_,_,time<[,]>)", r"192.168.1 - - [06/Aug/2019:12:12:19 +0800] ", False),
        (r"(ip,_,_,time<[,]>)", r"localhos - - [06/Aug/2019:12:12:19 +0800] ", False),
        (r"(ip,_,_,time<[,]>)", r"localhost - - [06/Ast/2019:12:12:19 +0800] ", False),
        (r"(ip,_,_,time<[,]>)\,", r"localhost - - [06/Ast/2019:12:12:19 +0800] ", False),
        (r"(ip,_,_,time<[,]>)", r"localhost - - 06/Ast/2019:12:12:19 +0800] ", False),
        (r"(ip,_,_,time<[,]>)", r"localhost - - [06/Ast/2019:12:12:19 +0800 ", False),
        (r"(ip,_,_,time<[,]>)", 'localhost - - "[06/Ast/2019:12:12:19 +0800] ', False),
        (r"(alt(ip,digit))", r"hello", False),
        # mod_test.rs asserts parse-level Ok here ('Ast' is no month, so
        # the kv value stops at the space and ~22% of the line is left
        # over); at the PIPELINE level both engines then classify >20%
        # residue as miss (parser.rs:57 `> 0.2`), which is the level our
        # _disposition models — so the faithful expectation is miss
        (r"(kv(time<[,]>@curr))", r"curr: [06/Ast/2019:12:12:19 +0800] ", False),
        (r"(json(symbol(boy2)@key))", r'{"key":  "boy"}', False),
        (
            r'(chars:city_name",float:latitude,float:longitude,digit:ip_beg,digit:ip_end)\,',
            r' "聊城市", 36.4837, 115.983, 3733321295, 3733321295',
            True,
        ),
        # same >0.2-residue pipeline classification as the kv case above
        (r"(peek_symbol(curr),kv(time<[,]>@curr))", r"curr: [06/Ast/2019:12:12:19 +0800] ", False),
        (r'(peek_symbol({"sys": "unix"),json)', r'{"sys": "unix" ,"key":  "hello boy"}', True),
        (r"(exact_json(@sys,@key))", r'{"sys": "unix" ,"key":  "hello boy"}', True),
        (r"(exact_json(@sys))", r'{"sys": "unix" ,"key":  "hello boy"}', False),
        (
            r"(kv(time@fist_time),kv(time@last_time),kv)",
            r"fist_time=2023-10-11 11:30:26 last_time=2023-10-11 11:30:26 tally=1",
            True,
        ),
        (r'(peek_symbol({"sys":"unix"),json)', r'{"sys": "unix" ,"key":  "hello boy"}', False),
    ]
    bad = []
    for expr, data, want in CASES:
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        row = cr.extract(spark.createDataFrame([(data,)], ["value"])).collect()[0]
        got = row["_disposition"] in ("success", "partial")
        if got != want:
            bad.append((expr, want, row["_disposition"]))
    assert not bad, bad
    # the typed kv value must surface as a TIME column, space and all
    cr = compile_rule(
        parse_wpl(
            "package /t { rule r { (kv(time@fist_time),kv(time@last_time),kv) } }"
        )[0]
    )
    row = cr.extract(
        spark.createDataFrame(
            [("fist_time=2023-10-11 11:30:26 last_time=2023-10-11 11:30:27 tally=1",)],
            ["value"],
        )
    ).collect()[0]
    assert str(row["fist_time"]) == "2023-10-11 11:30:26"
    assert str(row["last_time"]) == "2023-10-11 11:30:27"
    assert row["kv"]["tally"] == "1"


def test_reference_group_eval_parity(spark):
    """Cases from the reference's group eval tests (eval/runtime/group/
    {not,opt,alt,some_of}.rs): not() is a zero-width lookahead that
    fails when its inner matches and must NOT strand the next group's
    separator; opt tolerates absence; alt binds the matching branch's
    field; some_of accepts members in any order. Dispositions compare
    against parse_groups Ok/Err (success|partial ~ Ok)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    CASES = [
        (r"not(symbol(ERROR)),(chars:lvl,chars:msg)", "INFO: hello", True),
        (r"not(symbol(ERROR)),(chars:lvl,chars:msg)", "ERROR: wrong", False),
        (r"not(peek_symbol(ERROR):test),(chars:msg)", "INFO", True),
        (r"opt(ip:sip),(2*_,time<[,]>)",
         "192.168.1.2 - - [06/Aug/2019:12:12:19 +0800] ", True),
        (r"(ip:sip) ,opt(ip:sip)", "192.168.1.2", True),
        (r"alt(ip:sip,digit:id),(2*_,time<[,]>)",
         "192.168.1.2 - - [06/Aug/2019:12:12:19 +0800] ", True),
        (r"alt(ip:sip,digit:id),(2*_,time<[,]>)",
         "2002 - - [06/Aug/2019:12:12:19 +0800] ", True),
        (r"some_of(ip:sip, time<[,]>,digit:id),(2*_,time<[,]>)",
         " 2004 192.168.1.2 2002 - - [06/Aug/2019:12:12:19 +0800] ", True),
        (r"some_of(kv(chars@b:bbbb<[,]>),kv(chars@c:ccc),kv(chars@a:aaaa))\|",
         "b=[y]|c=z|a=x", True),
        (r"some_of(kv(chars<[,]>),chars)\|", "b=[y]|c= |a=[x]", True),
    ]
    bad = []
    for expr, data, want in CASES:
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        row = cr.extract(spark.createDataFrame([(data,)], ["value"])).collect()[0]
        got = row["_disposition"] in ("success", "partial")
        if got != want:
            bad.append((expr, data, want, row["_disposition"]))
    assert not bad, bad
    # field bindings: not+peek leaves input unconsumed; alt binds one side
    cr = compile_rule(
        parse_wpl("package /t { rule r { not(peek_symbol(ERROR):test),(chars:msg) } }")[0]
    )
    row = cr.extract(spark.createDataFrame([("INFO",)], ["value"])).collect()[0]
    assert row["msg"] == "INFO"
    cr = compile_rule(
        parse_wpl("package /t { rule r { alt(ip:sip,digit:id),(2*_,time<[,]>) } }")[0]
    )
    rows = cr.extract(
        spark.createDataFrame(
            [("192.168.1.2 - - [06/Aug/2019:12:12:19 +0800] ",),
             ("2002 - - [06/Aug/2019:12:12:19 +0800] ",)],
            ["value"],
        )
    ).orderBy("value").collect()
    assert rows[0]["sip"] == "192.168.1.2" and rows[0]["id"] is None
    assert rows[1]["id"] == 2002 and rows[1]["sip"] is None


def test_reference_pipe_fun_eval_parity(spark):
    """Cases from the reference's pipe_fun.rs unit tests: starts_with is
    NOT a guard (mismatching / non-chars fields become Ignore, the rule
    continues); base64_decode and json_unescape FAILURES miss the rule;
    chars_replace on a non-chars field misses; digit_range bounds are
    inclusive; regex_match is partial-match with inline (?i) flags."""
    import base64 as _b64

    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def run(expr, data):
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        return cr.extract(
            spark.createDataFrame([(data,)], ["value"])
        ).collect()[0]

    r = run(r"(chars:url | starts_with(https://))", "https://example.com")
    assert (r["_disposition"], r["url"]) == ("success", "https://example.com")
    r = run(r"(chars:url | starts_with(https://))", "http://example.com")
    assert (r["_disposition"], r["url"]) == ("success", None)  # Ignore, not miss
    r = run(r"(digit:num | starts_with(test))", "42")
    assert (r["_disposition"], r["num"]) == ("success", None)  # non-chars -> Ignore

    enc = _b64.b64encode(b"hello world").decode()
    r = run(r"(chars:payload | base64_decode)", enc)
    assert (r["_disposition"], r["payload"]) == ("success", "hello world")
    assert run(r"(chars:payload | base64_decode)", "***")["_disposition"] == "miss"

    r = run(r"(chars:txt | json_unescape)", r"line1\nline2")
    assert r["_disposition"] == "success" and "\n" in r["txt"]
    assert run(r"(chars:txt | json_unescape)", r"line1\qline2")["_disposition"] == "miss"

    assert run(r"(digit:num | chars_replace(old,new))", "123")["_disposition"] == "miss"

    assert run(r"(digit:num | digit_range(100,200))", "100")["_disposition"] == "success"
    assert run(r"(digit:num | digit_range(100,200))", "200")["_disposition"] == "success"
    assert run(r"(digit:num | digit_range(1,10))", "50")["_disposition"] == "miss"

    assert run(r'(chars:code | regex_match("[0-9]+"))', "ABC123")["_disposition"] == "success"
    assert run(r'(chars:t | regex_match("(?i)^hello"))', "Hello_W")["_disposition"] == "success"
    assert run(r'(chars:t | regex_match("^hello"))', "Hello_W")["_disposition"] == "miss"


def test_reference_subfield_grammar_cases():
    """wpl_field.rs wpl_id_field/wpl_field_subs unit cases: hyphen and
    SLASH subfield names (take_key charset), spaces around ':', opt()
    with inner spaces, bracket-indexed refs, quoted special refs."""
    from wp_motor_spark.wpl import parse_wpl

    def subs(expr):
        rule = parse_wpl("package /t { rule r { (kv%s) } }" % expr)[0]
        return [
            (s.dtype, s.ref, s.name, s.optional)
            for s in rule.groups[0].items[0].subfields
        ]

    assert subs("(@src_ip:src-ip)") == [("auto", "src_ip", "src-ip", False)]
    assert subs("(@src_ip : src-ip)") == [("auto", "src_ip", "src-ip", False)]
    assert subs("(opt( digit )@src_ip: src-ip)") == [
        ("digit", "src_ip", "src-ip", True)
    ]
    assert subs("(@process[0]/path)") == [("auto", "process[0]/path", None, False)]
    assert subs("(@'@abc')") == [("auto", "@abc", None, False)]
    assert subs("(digit@src_ip/beijing : src-ip/changsha ,digit@dst_ip : dst-ip)") == [
        ("digit", "src_ip/beijing", "src-ip/changsha", False),
        ("digit", "dst_ip", "dst-ip", False),
    ]


def test_clf_month_names_validated_in_match(spark):
    """time/common.rs fast_apache_dt + rfc.rs month_patten: month tokens
    are validated case-sensitively in the MATCH — a fake month ('Ast',
    'aug') must miss the rule, not parse with a NULL time."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    cr = compile_rule(
        parse_wpl("package /t { rule r { (ip,2*_,time/clf<[,]>) } }")[0]
    )
    rows = cr.extract(
        spark.createDataFrame(
            [
                ("1.2.3.4 - - [06/Aug/2019:12:12:19 +0800]",),
                ("1.2.3.4 - - [06/Ast/2019:12:12:19 +0800]",),
                ("1.2.3.4 - - [06/aug/2019:12:12:19 +0800]",),
            ],
            ["value"],
        )
    ).collect()
    disp = sorted(r["_disposition"] for r in rows)
    assert disp == ["miss", "miss", "success"], rows
    ok = [r for r in rows if r["_disposition"] == "success"]
    assert str(ok[0]["time_clf"]) == "2019-08-06 04:12:19"  # the Aug line


def test_reference_keyval_value_semantics(spark):
    """keyval.rs value_take cases: quoted values span separators with
    escapes preserved and outer quotes stripped (test_key_name/key_3);
    bare values TRIM (test_key_2); array-typed subfields consume the
    whole [..] and yield typed element arrays (test_kv_arr1-3)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def run(expr, data):
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        return cr.extract(
            spark.createDataFrame([(data,)], ["value"])
        ).collect()[0]

    r = run(r"(kv(@destination-zone))", r'destination-zone="tr\"ust"')
    assert r["_disposition"] == "success"
    assert r["kv"]["destination-zone"] == r'tr\"ust'

    r = run(r"(kv(@time))", r'time="2023-05-15 09:22:44" ')
    assert r["_disposition"] == "success"
    assert r["kv"]["time"] == "2023-05-15 09:22:44"

    # bare value trimmed; >20% residue classifies miss at the pipeline
    # level (the unit test checks only the field parse)
    r = run(r"(kv(@sys_name)\,)", "sys_name : 幻云 , msg_type:attack_log")
    assert r["kv"]["sys_name"] == "幻云"

    r = run(r"(kv(array/chars@dip))", 'dip=["1.1.1.1","2.2.2.2"]')
    assert r["_disposition"] == "success"
    assert r["dip"] == ["1.1.1.1", "2.2.2.2"]
    r = run(r"(kv(array/ip@dip))", "dip=[1.1.1.1,2.2.2.2]")
    assert r["dip"] == ["1.1.1.1", "2.2.2.2"]
    r = run(r"(kv(array/ip@dip))", "dip=[]")
    assert r["_disposition"] == "success" and r["dip"] == []


def test_json_subfield_base64_and_ignore(spark):
    """protocol/json.rs test_json_base64: a base64-typed json subfield
    DECODES the value; a `_`-typed subfield is parsed but NOT emitted."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    cr = compile_rule(
        parse_wpl("package /t { rule r { (json(base64@a:_a, _@c)) } }")[0]
    )
    row = cr.extract(
        spark.createDataFrame(
            [('{"a":"aGVsbG8=","b":2,"c": "gogogo"}',)], ["value"]
        )
    ).collect()[0]
    assert row["_disposition"] == "success"
    assert row["_a"] == "hello"
    assert "c" not in row.asDict()


def test_kvarr_quoted_values_and_guard(spark):
    """kvarr.rs: quoted values strip their outer quotes before guards see
    them — f_chars_has(a,foo) passes on a="foo"; kvarr also accepts ':'
    pair separators like kv."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def run(expr, data):
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        return cr.extract(
            spark.createDataFrame([(data,)], ["value"])
        ).collect()[0]

    r = run(r"(kvarr(chars@a, chars@b, digit@c)\s | f_chars_has(a,foo))",
            'a="foo" b=bar c=1')
    assert r["_disposition"] == "success"
    assert r["a"] == "foo" and r["kvarr"]["a"] == "foo"
    r = run(r"(kvarr(chars@a, chars@b, digit@c)\s | f_chars_has(a,foox))",
            'a="foo" b=bar c=1')
    assert r["_disposition"] == "miss"


def test_sep_pattern_reference_semantics(spark):
    """sep_pattern.rs build_pattern/matcher pins: '*' is byte-arbitrary
    (crosses newlines, test_match_star_newline) and at most ONE per body
    (test_err_multi_star); preserve (...) must END the pattern
    (test_err_preserve_not_end) but may itself contain a star
    (test_parse_star_in_preserve); unknown escapes are literals
    (test_unknown_escape_as_literal)."""
    import re as _re

    import pytest as _pytest

    from wp_motor_spark.wpl.compiler import WplCompileError, _compile_pattern_sep

    rx = _re.compile(_compile_pattern_sep(r"\s=*\n"))
    assert rx.match("  =hel\nlo\n")  # star crosses the embedded newline
    for bad in (r"*a*", r"(key)*="):
        with _pytest.raises(WplCompileError):
            _compile_pattern_sep(bad)
    assert _compile_pattern_sep(r"*(c*=)") == r"[\s\S]*?(?=c[\s\S]*?=)"
    assert _compile_pattern_sep(r"\x=\{") == r"x=\{"

    # end-to-end: kvarr with the {\s(\S=)} pattern sep still parses
    # space-containing values (kvarr.rs test_kvarr_pattern_sep_multi_pairs)
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    cr = compile_rule(parse_wpl(r"package /t { rule r { (kvarr{\s(\S=)}) } }")[0])
    r = cr.extract(
        spark.createDataFrame(
            [("msg=This is a long message severity=high source=firewall action=allow",)],
            ["value"],
        )
    ).collect()[0]
    assert r["_disposition"] == "success"
    assert r["kvarr"] == {
        "msg": "This is a long message", "severity": "high",
        "source": "firewall", "action": "allow",
    }


def test_kv_key_charset_take_kv_key(spark):
    """take_kv_key (parser/utils.rs:52-61, pinned at utils.rs:514-518):
    kv/kvarr keys accept / and the bracket family ()<>[]{} — keys like
    http/request, fn(arg), list<int>, arr[0] (kvarr.rs
    test_kvarr_bracket_keys). Before the widening, '/' survived only by
    regex give-back into the value and the second pair was swallowed,
    missing the rule."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def run(expr, data):
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        return cr.extract(
            spark.createDataFrame([(data,)], ["value"])
        ).collect()[0]

    r = run(r"(2*kv)", "http/request=GET a[0]=x")
    assert r["_disposition"] == "success"
    assert r["kv"]["http/request"] == "GET" and r["kv"]["a[0]"] == "x"

    r = run(r"(kvarr\,)", 'fn(arg)="hello", list<int>=100, arr[0]=true')
    assert r["_disposition"] == "success"
    assert r["kvarr"] == {"fn(arg)": "hello", "list<int>": "100",
                          "arr[0]": "true"}


def test_kvarr_value_take_parity(spark):
    """kvarr.rs take_value (106-122) + rename_duplicates (254-275):
    single-quoted values span separators (test_kvarr_whitespace_delimited
    b='bar x'); double-quoted values containing the run separator stay
    one value (the r10 str_to_map split corrupted 'a=\"foo bar\"' into
    three keys); bracketed interval values cross the separator with
    escaped quotes decoded (test_kvarr_with_commas2); repeated keys index
    as key[i] (test_kvarr_repeated_keys_are_indexed)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def run(expr, data):
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        return cr.extract(
            spark.createDataFrame([(data,)], ["value"])
        ).collect()[0]

    r = run(r"(kvarr(chars@a, chars@b, digit@c)\s)", "a=\"foo\" b='bar x' c=1")
    assert r["_disposition"] == "success"
    assert r["kvarr"] == {"a": "foo", "b": "bar x", "c": "1"}
    assert r["b"] == "bar x" and r["c"] == 1

    r = run(r"(kvarr\s)", 'a="foo bar" b=1')
    assert r["_disposition"] == "success"
    assert r["kvarr"] == {"a": "foo bar", "b": "1"}

    r = run(r"(kvarr(digit@cnt, array/ip@c)\,)",
            r'msg = hello boy,cnt=42 ,c=[\"1.1.1.1\",\"2.2.2.2\"]')
    assert r["_disposition"] == "success"
    assert r["kvarr"]["msg"] == "hello boy"
    assert r["cnt"] == 42 and r["c"] == ["1.1.1.1", "2.2.2.2"]

    r = run(r"(kvarr\s)", "tag=alpha tag=beta count=3")
    assert r["_disposition"] == "success"
    assert r["kvarr"] == {"tag[0]": "alpha", "tag[1]": "beta", "count": "3"}

    # kv side: single-quoted value (quot_str accepts both quote kinds)
    r = run(r"(kv(@a))", "a='x y z' ")
    assert r["kv"]["a"] == "x y z"


def test_json_unescape_backslash_pairs(spark):
    """value_json_unescape (pipe_fun.rs:518-535): escaped-backslash pairs
    consume atomically, so a Windows path 'D:\\\\dir\\\\x' (valid JSON
    escaping) passes; a lone invalid escape '\\x' still misses; a value
    with NO backslash short-circuits OK."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def run(data):
        cr = compile_rule(parse_wpl(
            "package /t { rule r { (chars:txt | json_unescape) } }")[0])
        return cr.extract(
            spark.createDataFrame([(data,)], ["value"])
        ).collect()[0]

    assert run(r"D:\\dir\\x")["_disposition"] == "success"
    assert run(r"a\\x")["_disposition"] == "success"
    assert run(r"a\x")["_disposition"] == "miss"
    assert run("plain")["_disposition"] == "success"


def test_reference_array_parse_cases(spark):
    """protocol/array.rs parse_array_vec cases: trailing commas, unquoted
    elements, escaped quotes, ']' inside quoted elements, empty arrays —
    all tolerated like the reference's hand-rolled parser (from_json
    rejects three of these)."""
    from wp_motor_spark.wpl import compile_rule, parse_wpl

    def run(expr, data):
        cr = compile_rule(parse_wpl("package /t { rule r { %s } }" % expr)[0])
        return cr.extract(
            spark.createDataFrame([(data,)], ["value"])
        ).collect()[0]

    cases = [
        (r"(array/digit:v)", "[1, 2, 3]", [1, 2, 3]),
        (r"(array/chars:v)", r'["hello", "_F]fe", "!@#$*&^\"123"]',
         ["hello", "_F]fe", '!@#$*&^"123']),
        (r"(array/digit:v)", "[1,2,3,]", [1, 2, 3]),
        (r"(array/digit:v)", "[]", []),
        (r"(array/ip:v)", '["1.1.1.1","2.2.2.2"]', ["1.1.1.1", "2.2.2.2"]),
        (r"(array/ip:v)", "[1.1.1.1,2.2.2.2]", ["1.1.1.1", "2.2.2.2"]),
    ]
    for expr, data, want in cases:
        r = run(expr, data)
        assert r["_disposition"] == "success", (expr, data, r)
        assert r["v"] == want, (expr, data, r["v"], want)


def test_err_report_parse_verdicts():
    """parser/err_report.rs: which rule sources are parse ERRORS vs OK.
    r12 additions: unknown field type (test_err_2 `px`), unknown subfield
    type (`json(a)`), and an empty subfield list (`json()`) all raise at
    parse time instead of silently degrading. Known accepted-superset
    divergence: `(ip\\,_,_,...)` (sep-spec immediately followed by a
    list item, test_err_4 first case) parses here."""
    import pytest as _pytest

    from wp_motor_spark.wpl.parser import WplSyntaxError, parse_wpl

    errs = [
        "packag pkg { rule x { (ip,_,_,time<[,]>) } }",
        "package pkg\n rule x { (ip,_,_,time<[,]>) } }",
        "package pkg { ru x { (ip,_,_,time<[,]>) } }",
        "package pkg { rule { (ip,_,_,time<[,]>) } }",
        "package pkg { rule x { ip,_,_,time<[,]>) } }",
        "package pkg { rule x { (px,_,_,time<[,]>) } }",
        "package pkg { rule x { (\\ip,_,_,time<[,]>) } }",
        "package pkg { rule x { (ip,_,_,time<[,]) } }",
        "package pkg { rule x { (json(,_,_,time<[,]>) } }",
        "package pkg { rule x { (json(),_,_,time<[,]>) } }",
        "package pkg { rule x { (json(a),_,_,time<[,]>) } }",
        "package /test_pkg { rule test_rule { (_*) } }",
        "package pkg{ rule x { (digit:id<<,>>,time,sn,chars\\:), pt(kv\\;) , (*kv\\,) } }",
    ]
    for src in errs:
        with _pytest.raises(WplSyntaxError):
            parse_wpl(src)

    oks = [
        "package pkg{ rule x { (digit:id<<,>>,time,sn,chars\\:), opt(kv\\;), (*kv\\,) } }",
        "package pkg{ rule x { opt(ip), opt(kv\\;), (*kv\\,) } }",
        "package pkg{ rule x { (json( opt(ip)@a ) ) } }",
    ]
    for src in oks:
        assert parse_wpl(src)


def test_known_types_all_compile(spark):
    """Drift guard for the parser's _KNOWN_TYPES whitelist
    (err_report.rs unknown-type verdicts): every whitelisted type must
    still compile — a type removed from the compiler without updating
    the whitelist would silently re-open the `px` hole."""
    from wp_motor_spark.wpl.parser import _KNOWN_TYPES

    for t in sorted(_KNOWN_TYPES):
        if t in ("symbol", "peek_symbol"):
            src = f"rule t {{ ({t}(x):a) }}"
        elif t == "array":
            src = "rule t { (kv(array@k)) }"
        else:
            src = f"rule t {{ ({t}:a,chars:b) }}"
        compile_rule(parse_wpl(src)[0])
