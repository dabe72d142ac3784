"""protocol/json.rs parity sweep (r12): the reference's own JSON field
test bodies driven against the engine.

Representation (documented in wpl/compiler.py): the reference flattens a
JSON value into dynamic per-key DataFields ('a/b' nesting, 'k[i]' array
elements, json_impl.rs proc_value); a static Spark schema cannot hold a
dynamic key set, so undeclared keys land in ONE map<string,string>
column named by the field (kv fields use the same map shape). Declared
refs stay individual typed columns, and sub-parsers receive the
SOURCE-ESCAPED leaf text exactly like json_impl.rs feeds fpu.parse the
raw `v.to_string()` slice (its str mode).
"""

import json

import pytest
from pyspark.sql import functions as F

from conftest import REF, needs_reference
from wp_motor_spark.wpl import compile_rule, parse_wpl

REF_JSON = f"{REF}/crates/wp-lang/src/eval/value/parser/protocol/json.rs"


def _fixture(name: str) -> str:
    import re

    src = open(REF_JSON).read()
    return re.search(r'const %s: &str = r#"(.*?)"#;' % name, src, re.S).group(1)


def _one(spark, rule_src, data):
    cr = compile_rule(parse_wpl(rule_src)[0])
    df = spark.createDataFrame([(data,)], ["value"])
    return cr.extract(df).first()


def test_json_std_validity(spark):
    """json.rs test_json_std: the serde deserializer FAILS the field on
    '{"a":1,"b":2,"c":  "a" : 1 } }' — validity is a guard, not a
    lenient JsonPath get. Duplicate keys stay legal (test_json_long's
    doubled vuln_type; serde last-wins)."""
    assert _one(spark, "rule t {(json)}", '{"a":1,"b":2}')["_disposition"] == "success"
    assert (
        _one(spark, "rule t {(json)}", '{"a":1,"b":2,"c": { "a" : 1 } }')[
            "_disposition"
        ]
        == "success"
    )
    assert (
        _one(spark, "rule t {(json)}", '{"a":1,"b":2,"c":  "a" : 1 } }')[
            "_disposition"
        ]
        == "miss"
    )
    assert (
        _one(spark, "rule t {(json)}", '{"a":1,"a":2}')["_disposition"] == "success"
    )


def test_json_flatten_map(spark):
    """Bare json flattens every leaf into the remainder map: '/' paths
    for nesting (test_json_long), 'k[i]' for arrays (test_json_6), null
    leaves dropped, numbers keep their source literal — a u64 past
    i64::MAX survives verbatim (test_json_big_integer_downgrade), and
    string leaves keep the SOURCE-ESCAPED form."""
    r = _one(
        spark,
        r"rule t { (json)\, }",
        '{"name": "中国", "value": 96, "key" : ["a","b","c"], "z": null}',
    )
    assert r["_disposition"] == "success"
    assert r["json"] == {
        "name": "中国",
        "value": "96",
        "key[0]": "a",
        "key[1]": "b",
        "key[2]": "c",
    }
    big = str(2**63)
    r = _one(spark, "rule t {(json)}", '{"big": %s, "i": -42, "f": 3.1415}' % big)
    assert r["json"] == {"big": big, "i": "-42", "f": "3.1415"}
    r = _one(spark, "rule t {(json)}", r'{"p":"c:\\u\\f","n":{"q":"a\nb"}}')
    assert r["json"] == {"p": r"c:\\u\\f", "n/q": r"a\nb"}


@needs_reference
def test_json_tianyan_wildcards(spark):
    """json.rs test_json_tianyan/2/3 over the reference's own LONG_DATA:
    `_@_origin*` (name-prefix wildcard) + `_@payload/packet_data` leave
    exactly 57 undeclared leaves; `_@*` leaves nothing; the tianyan3
    declaration set emits ONLY ip@alarm_sip and ip@_origin/sip — the
    default subfield NAME keeps the '/' path, and a bare `json@_origin`
    container declaration emits no field of its own."""
    data = _fixture("LONG_DATA")
    r = _one(spark, "rule t {(json(_@_origin*,_@payload/packet_data))}", data)
    assert r["_disposition"] == "success"
    m = r["json"]
    assert len(m) == 57
    assert not [k for k in m if k.startswith("_origin") or k == "payload/packet_data"]

    r = _one(spark, "rule t {(json(_@*))}", data)
    assert r["_disposition"] == "success"
    d = {
        k: v
        for k, v in r.asDict().items()
        if k not in ("_disposition", "_rule", "_residue", "value") and v is not None
    }
    assert d == {}

    r = _one(
        spark,
        "rule t {(json(_@*,ip@alarm_sip , json@_origin, _@_origin/*,ip@_origin/sip)) }",
        data,
    )
    assert r["_disposition"] == "success"
    d = {
        k: v
        for k, v in r.asDict().items()
        if k not in ("_disposition", "_rule", "_residue", "value") and v is not None
    }
    assert d == {"alarm_sip": "10.111.6.136", "_origin/sip": "10.111.134.201"}


@needs_reference
def test_json_multiline_and_ws_residue(spark):
    """The serde reader spans newlines (LONG_DATA is pretty-printed) and
    a trailing '\\n' is whitespace residue = full consumption (jt1/jt2
    fixtures end in newline and parse clean in the reference)."""
    data = _fixture("JSON_DATA1")
    r = _one(spark, r"rule t {(json(chars@action/text)\\\0)}", data)
    assert r["_disposition"] == "success"
    assert r["action/text"] == (
        "父进程 /bin/bash（pid：105123）创建进程 /usr/bin/curl（pid：105129）"
        "启动参数：-fsL http://localhost:8080/api/health/ 。来源：进程创建监控"
    )
    r = _one(spark, r"rule t {(json\0)}", _fixture("JSON_DATA2"))
    assert r["_disposition"] == "success"


def test_json_chars_source_escaped(spark):
    """json.rs test_json_9 / test_json_str_mode_decoded_pipe: chars
    subfields keep the raw escaped source ('c:\\\\users...' keeps BOTH
    backslashes); json_unescape() decodes exactly once (the old decoded
    extraction double-unescaped '\\f' into a formfeed)."""
    data9 = (
        r'{"file_path":"c:\\users\\fc\\desktop\\x","state":"已处理","n":1}'
    )
    r = _one(spark, "rule t { (json(chars@file_path,_@*)) }", data9)
    assert r["file_path"] == r"c:\\users\\fc\\desktop\\x"

    r = _one(
        spark,
        "rule t {(json(chars@path,chars@txt) | take(path) | json_unescape() "
        "| take(txt) | json_unescape())}",
        r'{"path":"c:\\users\\fc\\file","txt":"line1\nline2"}',
    )
    assert r["_disposition"] == "success"
    assert r["path"] == r"c:\users\fc\file"
    assert r["txt"] == "line1\nline2"


def test_json_bare_ref_cascade_on_raw(spark):
    """json.rs test_json_take_chars2: a bare @ref subfield's auto
    cascade runs over the RAW ESCAPED leaf — escaped json-in-string
    ('{\\"text\\"...') is NOT valid JSON, so it stays chars with the
    source backslashes (the decoded form would wrongly re-parse)."""
    data = (
        r'{"action": "{\"text\": \"10.91.7.38 ok\", \"html\": \"<span>x</span>\"}"}'
    )
    r = (
        compile_rule(parse_wpl("rule t { (json(@action,_@*))}")[0])
        .extract(spark.createDataFrame([(data,)], ["value"]))
        .select(
            F.col("_disposition"),
            F.col("action.t").alias("t"),
            F.to_json("action.v").alias("v"),
        )
        .first()
    )
    assert r["_disposition"] == "success"
    assert r["t"] == "chars"
    assert json.loads(r["v"]).startswith(r'{\"text\": \"10.91.7.38 ok\"')


def test_json_pipe_targets_last_declared(spark):
    """json.rs test_json_pipe_auto_last_behavior: a field-level pipe with
    no take() operates on the LAST DECLARED subfield (b) — never on the
    undeclared-key remainder map."""
    r = _one(
        spark,
        r"rule t { (json(chars@a, chars@b) | json_unescape()) }",
        r'{"a":"noop","b":"line1\nline2","extra":1}',
    )
    assert r["_disposition"] == "success"
    assert r["b"] == "line1\nline2"
    assert r["json"] == {"extra": "1"}

    # take + guards address declared columns and remainder-map keys alike
    r = _one(
        spark,
        r"rule t { (json(chars@name, chars@code) | take(name) "
        r"| chars_has( -99) | take(code) | chars_has( aaa)) }",
        r'{"name": -99, "code": "aaa"}',
    )
    assert r["_disposition"] == "success"
    r = _one(
        spark,
        r"rule t { (json | f_digit_has( age,18 ) ) }",
        r'{  "name": "china","age": 18}',
    )
    assert r["_disposition"] == "success"
    r = _one(
        spark,
        r"rule t { (json | f_digit_has( age,19 ) ) }",
        r'{ "name": "china", "age": 18}',
    )
    assert r["_disposition"] == "miss"
    r = _one(spark, r"rule t { (json | f_has( age1 ) ) }", r'{ "age": 18}')
    assert r["_disposition"] == "miss"


def test_json_base64_subfield_and_symbol_guard(spark):
    """json.rs test_json_base64 (base64@a decodes, _@c drops the key from
    the remainder while b stays) and test_json_4/5 (symbol guard inside a
    two-json sequence with ',' separator)."""
    r = _one(
        spark,
        "rule t {(json(base64@a:_a, _@c))}",
        '{"a":"aGVsbG8=","b":2,"c": "gogogo"}',
    )
    assert r["_disposition"] == "success"
    assert r["_a"] == "hello"
    assert r["json"] == {"b": "2"}

    r = _one(
        spark,
        r"rule t { (json(symbol(中国)@name,digit@value:cpu),json)\, }",
        '{"name": "中国", "value": 96}, {"name": "空闲内存(kB)", "value": 10243}',
    )
    assert r["_disposition"] == "success"
    assert r["cpu"] == 96


# ------------------------------------------------------------ r12 batch 2:
# the remaining json.rs test bodies (rename, 3/5/7/8-family, 9, 11, bug1,
# take_chars, symbol, i64/float, long-key no-panic, logs_unescape)


def test_json_rename_nested_paths(spark):
    """json.rs test_json_rename: bare refs rename BOTH a top-level and a
    nested path ('@rsp_status:x_status', '@_origin/rsp_status:
    _origin/x_status'); values survive under the new names (bare refs
    carry the auto struct per the established cascade-on-raw rule; the
    reference test asserts presence only — numeric-looking strings
    classify float in the cascade, so compare numerically)."""
    r = (
        compile_rule(parse_wpl(
            r"rule t { (json( @rsp_status:x_status, @_origin/rsp_status:_origin/x_status)) }"
        )[0])
        .extract(spark.createDataFrame(
            [('{"_origin": {"rsp_status": 200, "sip": "1.2.3.4" } ,"rsp_status": "200" }',)],
            ["value"],
        ))
        .select(
            F.col("_disposition"),
            F.col("x_status.v").cast("double").alias("top"),
            F.col("`_origin/x_status`.v").cast("double").alias("nested"),
        )
        .first()
    )
    assert r["_disposition"] == "success"
    assert r["top"] == 200.0
    assert r["nested"] == 200.0


@pytest.mark.parametrize(
    "name,rule,data,field,want",
    [
        # test_json_3/4/5: two comma-separated json fields, the first with
        # typed/symbol subfields (CJK symbol content included)
        ("json_3", r"rule t { (json(digit@value:cpu),json)\, }",
         '{"name": "空闲CPU百分比", "value": 96}, {"name": "空闲内存(kB)", "value": 10243}',
         "cpu", 96),
        ("json_5", r"rule t { (json(symbol(中国)@name,digit@value:cpu),json)\, }",
         '{"name": "中国", "value": 96}, {"name": "空闲内存(kB)", "value": 10243}',
         "cpu", 96),
        # test_json_take_chars: declared chars ref takes the string leaf
        ("take_chars", r"rule t { (json(chars@key)) }",
         '{"key":  "hello boy"}', "key", "hello boy"),
        # test_json_symbol: symbol content must MATCH the leaf
        ("symbol", r"rule t { (json(symbol(boy)@key)) }",
         '{"key":  "boy"}', "key", "boy"),
    ],
)
def test_json_declared_subfield_values(spark, name, rule, data, field, want):
    r = _one(spark, rule, data)
    assert r["_disposition"] == "success", name
    assert r[field] == want, (name, r[field])


def test_json_7_time_timestamp_subfield(spark):
    """json.rs test_json_7: time_timestamp@access_time decodes epoch-millis
    to '2022-05-10 09:22:47' (UTC session)."""
    r = _one(spark, r"rule t { (json(time_timestamp@access_time)) }",
             '{ "access_time": 1652174567000 }')
    assert r["_disposition"] == "success"
    assert r["access_time"].strftime("%Y-%m-%d %H:%M:%S") == "2022-05-10 09:22:47"


def test_json_logs_unescape_pipe(spark):
    """json.rs test_json_logs_unescape_rule: chars@logs | json_unescape()
    decodes the embedded escapes ('[10]:\\"sys\\"' -> '[10]:"sys"')."""
    r = _one(spark, r"rule t { (json( chars@logs | json_unescape() )) }",
             r'{"age": 10, "logs": "[10]:\"sys\""}')
    assert r["_disposition"] == "success"
    assert r["logs"] == '[10]:"sys"'


def test_json_i64_float_and_bare_age(spark):
    """json.rs test_json_8 + test_json_i64_and_float_preserve: undeclared
    leaves land in the shared json map with their textual values intact
    (i64 '-42' not mangled, float present, 'age' readable)."""
    r = _one(spark, r"rule t { (json) }", '{ "age": 18}')
    assert r["_disposition"] == "success" and r["json"]["age"] == "18"
    r = _one(spark, r"rule t { (json) }", '{"i": -42, "f": 3.1415}')
    assert r["json"]["i"] == "-42"
    assert r["json"]["f"] is not None


def test_json_long_keys_no_failure(spark):
    """json.rs test_json_long_keys_no_panic +
    test_json_long_parent_with_array_no_panic: 300-char keys and a long
    parent over a 16-element array parse clean (no capacity limits)."""
    long_a, long_b = "a" * 300, "b" * 300
    r = _one(spark, r"rule t { (json) }",
             '{"%s": { "%s": 123 } }' % (long_a, long_b))
    assert r["_disposition"] == "success"
    assert r["json"][f"{long_a}/{long_b}"] == "123"
    long_p = "parent_" + "x" * 260
    r = _one(spark, r"rule t { (json) }",
             '{"%s": { "arr": [1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16] } }' % long_p)
    assert r["_disposition"] == "success"
    assert r["json"][f"{long_p}/arr[15]"] == "16"


@pytest.mark.parametrize(
    "name,rule,data,disp",
    [
        # test_json_8_1: f_has positive / negative
        ("f_has_ok", r"rule t { (json | f_has( age ) ) }", '{ "age": 18}', "success"),
        ("f_has_miss", r"rule t { (json | f_has( age1 ) ) }", '{ "age": 18}', "miss"),
        # test_json_8_2_0 / 8_2_1: digit guards
        ("digit_has_ok", r"rule t { (json | f_digit_has( age,18 ) ) }",
         '{  "name": "china","age": 18}', "success"),
        ("digit_has_miss", r"rule t { (json | f_digit_has( age,19) ) }",
         '{ "name": "china", "age": 18}', "miss"),
        ("digit_in_ok", r"rule t { (json | f_digit_in( age, [18,19] ) ) }",
         '{  "name": "china","age": 18}', "success"),
        ("digit_in_miss", r"rule t { (json | f_digit_in( age, [18,19] ) ) }",
         '{ "name": "china", "age": 17}', "miss"),
        # test_json_8_3 / 8_3_1 / 8_4: chars guards incl. numeric leaf and
        # guard on an UNDECLARED key next to a declared subfield
        ("chars_has_ok", r"rule t { (json | f_chars_has( name,china ) ) }",
         '{ "name": "china"}', "success"),
        ("chars_has_miss", r"rule t { (json | f_chars_has( name,chinx) ) }",
         '{ "name": "china"}', "miss"),
        ("chars_has_numeric",
         r"rule t { (json(chars@name) | f_chars_has(name, -99) | f_chars_has(code, aaa) ) }",
         '{ "name": -99, "code": "aaa"}', "success"),
        ("chars_in_ok", r"rule t { (json | f_chars_in( name, [china,japan]) ) }",
         '{ "name": "china"}', "success"),
        ("chars_not_has_ok", r"rule t { (json | f_chars_not_has(name, chinx) ) }",
         '{ "name": "china"}', "success"),
        ("not_has_and_has",
         r"rule t { (json(chars@name, chars@code) | f_chars_not_has(name, 1) | f_chars_has(code, aaa) ) }",
         '{ "name": -99, "code": "aaa"}', "success"),
        # test_json_8_5: ip membership
        ("ip_in_ok", r"rule t { (json(ip@addr) | f_ip_in(addr, [1.1.1.1,2.2.2.2]) ) }",
         '{ "addr": "1.1.1.1"}', "success"),
        # test_json_bug1: hostile template-injection payload parses clean
        ("bug1", r"rule t { (json(chars@http_req_header)) }",
         r'{"http_req_header":"GET /?n=%0A&cmd=ipconfig+/all&search=%25xxx%25url%25:%password%}{.exec|{.?cmd.}|timeout=15|out=abc.}{.?n.}RESULT:{.?n.}{.^abc.}===={.?n.} HTTP/1.1\r\nHost: 221.182.184.6:8081\r\nConnection: close\r\n\r\n"}',
         "success"),
    ],
)
def test_json_guard_family(spark, name, rule, data, disp):
    r = _one(spark, rule, data)
    assert r["_disposition"] == disp, (name, r["_disposition"])


def test_json_9_multi_rename_and_escaped_path(spark):
    """json.rs test_json_9: a wide rename list maps one source key to TWO
    outputs (@virus_name -> alert_name AND malware_name); the declared
    chars@file_path keeps the source-escaped backslashes (str mode)."""
    rule = (
        r"rule t { (json(time_timestamp@found_time:occur_time,"
        r"@virus_name:alert_name,@virus_type:origin_alert_cat_name,"
        r"@risk_level:severity,@iplist:terminal_ip,@host_name:terminal_name,"
        r"@virus_name:malware_name,@file_md5,chars@file_path,"
        r"@file_size:file_bytes,@state:protect_action,@agent_id,_@*)) }"
    )
    data = (
        r'{"_id":"6C94","file_md5":"7e5432f32a3b6f25666e0cc9acff00bf",'
        r'"virus_name":"Suspicious.Win32.Save.a","risk_level":0,'
        r'"state":"已处理","found_time":1671695066,"agent_id":"3358992609",'
        r'"file_path":"c:\\users\\fc\\desktop\\tr-shopbot\\7e",'
        r'"virus_type":"其他病毒","host_name":"DESKTOP-ARRA948",'
        r'"iplist":"10.122.163.99"}'
    )
    r = (
        compile_rule(parse_wpl(rule)[0])
        .extract(spark.createDataFrame([(data,)], ["value"]))
        .select(
            "_disposition", "file_path",
            F.col("alert_name.v").cast("string").alias("alert"),
            F.col("malware_name.v").cast("string").alias("malware"),
        )
        .first()
    )
    assert r["_disposition"] == "success"
    assert r["alert"] == "Suspicious.Win32.Save.a"
    assert r["malware"] == "Suspicious.Win32.Save.a"
    # str mode: the raw escaped slice, double backslashes preserved
    assert r["file_path"] == r"c:\\users\\fc\\desktop\\tr-shopbot\\7e"


def test_json_11_array_of_json(spark):
    """json.rs test_json_11: array/json@details:event_detail keeps each
    OBJECT element whole (top-level commas inside braces must not shred
    it — the bug this pins); a bare @details ref exposes the same leaves
    through the variant ('event_detail[0]/alert_id' in the reference's
    flatten, '$[0].alert_id' here)."""
    data = (
        r'{"details":[{"relation":1,'
        r'"alert_id":"94882787-9505-49d4-9024-20DC93AF579B",'
        r'"action_time":1676304603062,'
        r'"rule_name":"访问 lemonduck 挖矿的通信域名",'
        r'"command":"C:\\Windows\\System32\\x.EXE -ep bypass, -e a"}]}'
    )
    df = compile_rule(
        parse_wpl(r"rule t { (json(array/json@details:event_detail)) }")[0]
    ).extract(spark.createDataFrame([(data,)], ["value"]))
    r = df.select(
        "_disposition",
        F.size("event_detail").alias("n"),
        F.get_json_object(F.element_at("event_detail", 1), "$.alert_id").alias("aid"),
        F.get_json_object(F.element_at("event_detail", 1), "$.relation").alias("rel"),
    ).first()
    assert r["_disposition"] == "success"
    assert r["n"] == 1
    assert r["aid"] == "94882787-9505-49d4-9024-20DC93AF579B"
    assert r["rel"] == "1"
    # bare-ref form: the variant carries the array; leaves addressable
    df2 = compile_rule(
        parse_wpl(r"rule t { (json(@details:event_detail)) }")[0]
    ).extract(spark.createDataFrame([(data,)], ["value"]))
    r2 = df2.select(
        F.try_variant_get(F.col("event_detail.v"), "$[0].alert_id", "string").alias("aid")
    ).first()
    assert r2["aid"] == "94882787-9505-49d4-9024-20DC93AF579B"


def test_json_scope_shapes_escaped_rs(spark):
    """wp-parser scope/escaped.rs (EscapedScopeEval, 19 tests): the json
    field spans braces INSIDE quoted strings, deep nesting, and the
    empty scope exactly like the reference's quote-aware scope finder.
    Known divergence (PROFILE.md r12 A/B): two top-level objects on one
    line — the reference takes the FIRST scope and leaves residue; the
    greedy span fails validity and misses (the balanced-regex fix
    StackOverflows the JVM regex engine on large JSON)."""
    for line, want in [
        ('{ "a" : "} hello {" }', {"a": "} hello {"}),
        ('{ "a" : 123 , "b": { "x" : { "y" :1 }} }', {"a": "123", "b/x/y": "1"}),
        ("{}", {}),
    ]:
        r = _one(spark, "rule t { (json) }", line)
        assert r["_disposition"] == "success", line
        assert dict(r["json"] or {}) == want, line
    # the documented divergence case: both engines end at miss for this
    # input (reference: first scope + >20% residue; ours: greedy span
    # fails serde validity)
    r = _one(spark, "rule t { (json) }", '{ "a" : 123 } {"b" : 234 }')
    assert r["_disposition"] == "miss"
