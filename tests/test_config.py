"""Workspace config loader tests.

The tests marked needs_reference load the reference checkout's own
tests/instance/ project tree (the same workspace its integration tests
load via WpApp::try_from) and check its golden values; they skip when
that tree is absent. The skip_parse/skip_sink switch test runs on the
`wproj init --mode full` scaffold instead; the rest build their own
workspaces under tmp_path."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import REF, needs_reference
from wp_motor_spark.config import build_pipeline, load_workspace

INSTANCE = f"{REF}/tests/instance"


@needs_reference
def test_load_workspace(tmp_path):
    ws = load_workspace(INSTANCE, out_root=str(tmp_path))
    assert ws.parallel == 2
    assert ws.speed_limit == 10000
    assert ws.stat_window_sec == 60
    # models
    assert any("rule nginx" in t for t in ws.wpl_texts)
    assert len(ws.oml_texts) >= 2  # example_adm + benchmark (+ ignore)
    # sources: one enabled file source with its tag, disabled ones skipped
    files = [s for s in ws.sources if s.kind == "file" and s.enable]
    assert len(files) == 1
    assert files[0].tags == {"dev_src_ip": "10.0.0.1"}
    kafka = [s for s in ws.sources if s.kind == "kafka"]
    assert kafka and not kafka[0].enable
    # sinks: the data group + every infra channel
    names = {s.name for s in ws.sinks}
    assert {"other", "default", "miss", "residue", "error", "monitor"} <= names
    other = next(s for s in ws.sinks if s.name == "other")
    assert other.format == "kv" and other.path.startswith(str(tmp_path))
    # [[stat.*]] collector declarations (wparse.toml [stat] tables)
    specs = ws.stat_specs
    assert ws.robust == "normal"
    for stage in ("pick", "parse", "sink"):
        assert specs[stage] == [
            {"key": f"{stage}_stat", "target": "*", "fields": [], "top_n": 20}
        ]


@needs_reference
def test_workspace_end_to_end(spark, tmp_path):
    """Assemble from config and run the instance sample through it."""
    ws = load_workspace(INSTANCE, out_root=str(tmp_path))
    pipe, _inputs = build_pipeline(ws)
    raw = spark.read.text(f"{INSTANCE}/wpl/example/simple/sample.dat")
    res = pipe.run_batch(raw)
    assert res.branches["/example/simple/nginx"].count() == 1
    kv = res.sink_lines["other"].collect()[0]["line"]
    assert "src_ip=222.133.52.20" in kv
    assert "dev_src_ip=10.0.0.1" in kv  # source tag from wpsrc.toml


@needs_reference
def test_instance_workspace_full_e2e(spark, tmp_path):
    """The whole workspace driven like the reference's own integration run
    (tests/instance, WpApp::try_from): wpgen rule mode fills the configured
    file source path, one batch carries good/junk/partial lines, and every
    infra channel lands in its configured out/*.dat file."""
    import shutil

    from wp_motor_spark.wpl.generator import generate_lines

    root = tmp_path / "instance"
    shutil.copytree(INSTANCE, root)
    gen_rule = (root / "wpl" / "example" / "simple" / "gen_rule.wpl").read_text()
    lines = [r[0] for r in generate_lines(spark, gen_rule, 20, seed=7).collect()]
    assert len(lines) == 20
    junk = "unparseable junk ###"
    partial = lines[0] + " tail=42"  # short tail -> partial match + residue
    (root / "src_dat").mkdir()
    (root / "src_dat" / "gen.dat").write_text("\n".join(lines + [junk, partial]) + "\n")

    ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
    pipe, inputs = build_pipeline(ws)
    assert [os.path.normpath(p) for p in inputs] == [str(root / "src_dat" / "gen.dat")]
    counts = pipe.write_batch(spark.read.text(inputs))

    assert counts["other"] == 21  # 20 generated + the partial line
    assert counts["miss"] == 1
    assert counts["residue"] == 1
    miss_path = next(s.path for s in ws.sinks if s.name == "miss")
    assert spark.read.text(miss_path).collect()[0]["value"] == junk
    residue_path = next(s.path for s in ws.sinks if s.name == "residue")
    res_lines = [r["value"] for r in spark.read.text(residue_path).collect()]
    assert len(res_lines) == 1 and "tail=42" in res_lines[0]
    other_path = next(s.path for s in ws.sinks if s.name == "other")
    kv = [r["value"] for r in spark.read.text(other_path).collect()]
    assert len(kv) == 21
    assert all("src_ip=" in ln for ln in kv)
    assert all("dev_src_ip=10.0.0.1" in ln for ln in kv)  # wpsrc.toml tag


def test_victorialogs_sink_through_connector_registry(spark, tmp_path):
    """v2 sink connector resolution must carry the resolved params into
    SinkSpec.options — a workspace-configured victorialogs sink posts to
    the configured endpoint (16-victorialogs.md: connect = id + params)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    got = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            got.append((self.path, body.decode()))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    root = tmp_path / "ws"
    (root / "wpl").mkdir(parents=True)
    (root / "wpl" / "parse.wpl").write_text(
        'package /t { rule kv { (chars:word,digit:n) } }\n'
    )
    (root / "oml").mkdir()
    (root / "oml" / "t.oml").write_text(
        "name : t/all\nrule :\n    /t/kv\n---\n*  = take() ;\n"
    )
    (root / "connectors" / "sink.d").mkdir(parents=True)
    (root / "connectors" / "sink.d" / "20-vlogs.toml").write_text(
        '[[connectors]]\n'
        'id = "victorialog_sink"\n'
        'type = "victorialogs"\n'
        'allow_override = ["endpoint", "insert_path", "fmt"]\n'
        '[connectors.params]\n'
        'endpoint = "http://localhost:9428"\n'
        'insert_path = "/insert/jsonline"\n'
        'fmt = "json"\n'
    )
    (root / "topology" / "sinks").mkdir(parents=True)
    (root / "topology" / "sinks" / "sink.toml").write_text(
        'version = "2.0"\n'
        '[sink_group]\n'
        'name = "vlogs"\n'
        'oml = ["*"]\n'
        '[[sink_group.sinks]]\n'
        'name = "vlogs"\n'
        'connect = "victorialog_sink"\n'
        f'params = {{ endpoint = "http://127.0.0.1:{port}" }}\n'
    )
    (root / "topology" / "sources").mkdir(parents=True)

    try:
        ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
        spec = next(s for s in ws.sinks if s.name == "vlogs")
        assert spec.kind == "victorialogs"
        # the resolved connector params reach the write path via options
        assert spec.options["endpoint"] == f"http://127.0.0.1:{port}"
        assert spec.options["insert_path"] == "/insert/jsonline"

        pipe, _ = build_pipeline(ws)
        raw = spark.createDataFrame([("hello 7",), ("world 9",)], ["value"])
        pipe.write_batch(raw)
        assert got, "no POST reached the configured endpoint"
        assert all(p == "/insert/jsonline" for p, _ in got)
        recs = [
            json.loads(ln)
            for _, body in got
            for ln in body.strip().split("\n")
        ]
        msgs = sorted(json.loads(r["_msg"])["word"] for r in recs)
        assert msgs == ["hello", "world"]
    finally:
        srv.shutdown()


@needs_reference
def test_write_batch_to_configured_paths(spark, tmp_path):
    ws = load_workspace(INSTANCE, out_root=str(tmp_path))
    pipe, _ = build_pipeline(ws)
    raw = spark.createDataFrame(
        [(open(f"{INSTANCE}/wpl/example/simple/sample.dat").read().strip(),),
         ("unparseable junk ###",)],
        ["value"],
    )
    counts = pipe.write_batch(raw)
    assert counts["other"] == 1
    assert counts["miss"] == 1
    miss_dir = next(s.path for s in ws.sinks if s.name == "miss")
    assert spark.read.text(miss_dir).collect()[0]["value"] == "unparseable junk ###"


@needs_reference
def test_daemon_checkpoint_restart_infra_parity(spark, tmp_path):
    """wparse daemon (service.rs:96-101) as Structured Streaming: the
    foreachBatch daemon over the instance workspace, killed after batch 1
    and resumed from the SAME checkpoint, must (a) not re-deliver batch-1
    records and (b) land batch-2's junk/partial lines in the same infra
    sink files a single uninterrupted run would produce."""
    import shutil

    from wp_motor_spark.pipeline import stream_lines
    from wp_motor_spark.wpl.generator import generate_lines

    root = tmp_path / "instance"
    shutil.copytree(INSTANCE, root)
    gen_rule = (root / "wpl" / "example" / "simple" / "gen_rule.wpl").read_text()
    lines = [r[0] for r in generate_lines(spark, gen_rule, 10, seed=3).collect()]
    spool = root / "spool"
    spool.mkdir()
    (spool / "f1.dat").write_text("\n".join(lines[:5]) + "\n")

    ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
    pipe, _ = build_pipeline(ws)
    ckpt = str(tmp_path / "ckpt")

    # rate limit: one file per trigger (speed_limit -> reader trigger caps)
    q = pipe.run_stream(
        stream_lines(spark, str(spool), max_files_per_trigger=1),
        checkpoint=ckpt,
    )
    q.processAllAvailable()
    q.stop()  # "kill" the daemon after batch 1

    other_path = next(s.path for s in ws.sinks if s.name == "other")
    assert spark.read.text(other_path).count() == 5

    # new arrivals while the daemon is down: good lines + junk + partial
    junk = "unparseable junk ###"
    partial = lines[5] + " tail=42"
    (spool / "f2.dat").write_text("\n".join(lines[5:] + [junk, partial]) + "\n")

    q2 = pipe.run_stream(
        stream_lines(spark, str(spool), max_files_per_trigger=1),
        checkpoint=ckpt,  # resume from the same offsets
    )
    q2.processAllAvailable()
    q2.stop()

    # batch 1 NOT re-delivered; batch 2 delivered exactly once
    assert spark.read.text(other_path).count() == 5 + 6  # 5 good + partial
    miss_path = next(s.path for s in ws.sinks if s.name == "miss")
    assert [r["value"] for r in spark.read.text(miss_path).collect()] == [junk]
    residue_path = next(s.path for s in ws.sinks if s.name == "residue")
    res = [r["value"] for r in spark.read.text(residue_path).collect()]
    assert len(res) == 1 and "tail=42" in res[0]


def test_source_level_encode_base64_and_hex(spark, tmp_path):
    """Source-level encode (02-file_source.md): base64/hex file sources
    decode each whole LINE before parsing; text passes through."""
    import base64

    root = tmp_path / "ws"
    (root / "wpl").mkdir(parents=True)
    (root / "wpl" / "parse.wpl").write_text(
        "package /t { rule kv { (chars:word,digit:n) } }\n"
    )
    (root / "data").mkdir()
    (root / "data" / "plain.log").write_text("alpha 1\n")
    (root / "data" / "enc.b64").write_text(
        base64.b64encode(b"bravo 2").decode() + "\n"
    )
    (root / "data" / "enc.hex").write_text(b"charlie 3".hex() + "\n")
    (root / "topology" / "sources").mkdir(parents=True)
    (root / "topology" / "sources" / "wpsrc.toml").write_text(
        "[[source_file]]\nkey='p'\npath='data/plain.log'\n"
        "[[source_file]]\nkey='b'\npath='data/enc.b64'\nencode='base64'\n"
        "[[source_file]]\nkey='h'\npath='data/enc.hex'\nencode='hex'\n"
    )
    (root / "topology" / "sinks").mkdir(parents=True)

    from wp_motor_spark.config import read_workspace_lines

    ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
    raw = read_workspace_lines(spark, ws)
    assert sorted(r["value"] for r in raw.collect()) == [
        "alpha 1", "bravo 2", "charlie 3",
    ]
    pipe, _ = build_pipeline(ws)
    res = pipe.run_batch(raw)
    got = {(r["word"], r["n"]) for r in res.branches["default"].collect()}
    assert got == {("alpha", 1), ("bravo", 2), ("charlie", 3)}


def test_engine_conf_canonical_keys(tmp_path, spark):
    """wparse.toml key parity with engine.rs EngineConfig: [performance]
    parse_workers/rate_limit_rps are the canonical keys (top-level legacy
    parallel/speed_limit are unknown fields the reference's serde ignores);
    version, [rescue] path, [semantic] enabled, skip_parse/skip_sink."""
    root = tmp_path / "ws"
    (root / "conf").mkdir(parents=True)
    (root / "conf" / "wparse.toml").write_text(
        """
version = "1.0"
robust  = "strict"
skip_parse = true
skip_sink = true
parallel = 99        # legacy top-level key: must be IGNORED
speed_limit = 1      # legacy top-level key: must be IGNORED

[performance]
rate_limit_rps = 5000
parse_workers  = 4

[rescue]
path = "./my/rescue"

[semantic]
enabled = false
"""
    )
    ws = load_workspace(str(root))
    assert ws.version == "1.0"
    assert ws.robust == "strict"
    assert ws.parallel == 4          # NOT the legacy 99
    assert ws.speed_limit == 5000    # NOT the legacy 1
    assert ws.rescue_path == os.path.normpath(str(root / "my" / "rescue"))
    assert ws.semantic_enabled is False
    assert ws.skip_parse and ws.skip_sink

    # defaults mirror engine.rs Default impls
    (tmp_path / "bare").mkdir()
    empty = load_workspace(str(tmp_path / "bare"))
    assert empty.version == "1.0"
    assert empty.parallel == 2 and empty.speed_limit == 10000
    assert empty.rescue_path.endswith(os.path.normpath("data/rescue"))
    assert not empty.semantic_enabled
    assert not empty.skip_parse and not empty.skip_sink


def test_load_workspace_missing_root_raises(tmp_path):
    """A typo'd --work-root must fail loudly, not run with no rules."""
    with pytest.raises(FileNotFoundError, match="nowhere"):
        load_workspace(str(tmp_path / "nowhere"))


def test_skip_parse_and_skip_sink_stage_switches(tmp_path, spark):
    """engine.rs skip_parse/skip_sink: skip_parse removes every batch
    input (the pick/parse stage never starts); skip_sink builds the
    pipeline with no delivery sinks."""
    from wp_motor_spark.wproj import main as wproj

    root = tmp_path / "ws"
    assert wproj(["init", "-w", str(root), "--mode", "full"]) == 0
    (root / "data" / "demo.dat").write_text(
        '2024-01-01T00:00:00Z 10.0.0.1 200 "hello"\n'
    )
    # precondition: without the switches the scaffold has an input to
    # read and sinks to deliver to, so the empty lists below are theirs
    ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
    pipe, inputs = build_pipeline(ws)
    assert inputs and pipe.sinks

    conf = (root / "conf" / "wparse.toml").read_text()
    # PREPEND: the scaffold's conf ends inside its [stat] table, so an
    # appended key would belong to that table, not the top level
    (root / "conf" / "wparse.toml").write_text(
        "skip_parse = true\nskip_sink = true\n" + conf
    )
    ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
    pipe, inputs = build_pipeline(ws)
    assert inputs == []        # skip_parse: nothing to read
    assert pipe.sinks == []    # skip_sink: nothing to deliver to


def _mini_ws(tmp_path):
    """Minimal workspace with one kv rule and a business.d sink tree."""
    root = tmp_path / "ws"
    (root / "wpl").mkdir(parents=True)
    (root / "wpl" / "parse.wpl").write_text(
        "package /t { rule kv { (chars:word,digit:n) } }\n"
    )
    (root / "oml").mkdir()
    (root / "oml" / "t.oml").write_text(
        "name : t_kv\nrule :\n    /t/kv\n---\n* = take() ;\n"
    )
    (root / "topology" / "sources").mkdir(parents=True)
    return root


def test_business_d_recursive_routes_filter_and_rule_globs(spark, tmp_path):
    """03-sinks.md + sinks/io.rs: business.d/**/*.toml is collected
    recursively; per-sink `name` (fallback "[index]"); group `rule` globs
    (string form) select branches by WPL rule key; per-sink `filter` file
    routes iff eval == filter_expect (sinks/types.rs:83
    crate_default_true: reference default TRUE = deliver on match;
    explicit filter_expect=false = interception); defaults.toml
    [defaults.expect] backfills groups."""
    root = _mini_ws(tmp_path)
    sink_root = root / "topology" / "sinks"
    nested = sink_root / "business.d" / "nested"
    nested.mkdir(parents=True)
    (sink_root / "defaults.toml").write_text(
        "[defaults.expect]\nratio = 1.0\ntol = 0.5\n"
    )
    (sink_root / "filter.cond").write_text("n > 5\n")
    (nested / "grp.toml").write_text(
        'version = "2.0"\n'
        "[sink_group]\n"
        'name = "/sink/filter"\n'
        'rule = "/t/kv"\n'  # string (StringOrArray), the qualified rule key
        "[[sink_group.sinks]]\n"
        'name = "all"\n'
        'target = "file"\npath = "out/all.dat"\nfmt = "kv"\n'
        "[[sink_group.sinks]]\n"
        'name = "safe"\n'
        'target = "file"\npath = "out/safe.dat"\nfmt = "kv"\n'
        'filter = "topology/sinks/filter.cond"\n'
        "[[sink_group.sinks]]\n"  # third sink without a name -> "[2]"
        'target = "file"\npath = "out/anon.dat"\nfmt = "kv"\n'
        "[[sink_group.sinks]]\n"  # explicit intercept (filter_expect=false)
        'name = "blocked"\n'
        'target = "file"\npath = "out/blocked.dat"\nfmt = "kv"\n'
        'filter = "topology/sinks/filter.cond"\n'
        "filter_expect = false\n"
    )
    (nested / "nomatch.toml").write_text(
        "[sink_group]\n"
        'name = "/sink/none"\n'
        'rule = ["zzz*"]\n'  # glob matches no rule -> no lines
        "[[sink_group.sinks]]\n"
        'target = "file"\npath = "out/none.dat"\nfmt = "kv"\n'
    )

    ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
    by_name = {s.name: s for s in ws.sinks}
    assert {"all", "safe", "/sink/filter[2]", "/sink/none"} <= set(by_name)
    assert by_name["all"].group_expect == {"ratio": 1.0, "tol": 0.5}  # defaults.toml
    assert by_name["safe"].condition == "n > 5"
    assert by_name["safe"].filter_expect is True  # reference default: deliver
    assert by_name["blocked"].filter_expect is False  # explicit intercept
    assert by_name["all"].rules == ["/t/kv"]

    pipe, _ = build_pipeline(ws)
    raw = spark.createDataFrame([("alpha 3",), ("bravo 9",)], ["value"])
    counts = pipe.write_batch(raw)
    assert counts["all"] == 2
    assert counts["safe"] == 1  # "bravo 9" delivered (n > 5 true)
    assert counts["blocked"] == 1  # "bravo 9" intercepted -> "alpha 3" only
    assert counts["/sink/filter[2]"] == 2
    assert counts.get("/sink/none", 0) == 0
    safe_lines = [
        r["value"]
        for r in spark.read.text(str(by_name["safe"].path)).collect()
    ]
    assert len(safe_lines) == 1 and "word=bravo" in safe_lines[0]
    blocked_lines = [
        r["value"]
        for r in spark.read.text(str(by_name["blocked"].path)).collect()
    ]
    assert len(blocked_lines) == 1 and "word=alpha" in blocked_lines[0]


def test_infra_group_rejects_parallel(tmp_path):
    """build.rs:425: [sink_group].parallel is a config error for infra
    groups (business.d parallel is the supported spelling)."""
    import pytest as _pytest

    root = _mini_ws(tmp_path)
    infra = root / "topology" / "sinks" / "infra.d"
    infra.mkdir(parents=True)
    (infra / "miss.toml").write_text(
        "[sink_group]\n"
        'name = "miss"\n'
        "parallel = 4\n"
        "[[sink_group.sinks]]\n"
        'target = "file"\npath = "out/miss.dat"\nfmt = "raw"\n'
    )
    with _pytest.raises(ValueError, match="does not support"):
        load_workspace(str(root), out_root=str(tmp_path / "out"))
