"""CLI end-to-end: the MIGRATION.md invocations actually work in-process
(main(argv) — same code path as python -m wp_motor_spark.cli).

The wpgen -> wparse round trip and the wprescue argument check run on the
in-repo F1 fixture (tests/fixtures/example_simple: rule + model). The
tests marked needs_reference check golden values of the reference
checkout's own instance (its sample.dat, its conf/wpgen.toml) and skip
when that tree is absent."""

from __future__ import annotations

import os

from conftest import EXAMPLE_SIMPLE, REF, needs_reference
from wp_motor_spark.cli import main

INSTANCE = f"{REF}/tests/instance"


def test_wpgen_then_wparse_round_trip(spark, tmp_path):
    """Generate lines from the F1 nginx rule, then parse them back
    through the CLI batch path — generator/parser duality at the binary
    surface."""
    wpl = f"{EXAMPLE_SIMPLE}/parse.wpl"
    gen_out = str(tmp_path / "gen")
    rc = main(["wpgen", "--wpl", wpl, "-n", "50", "--out", gen_out, "--seed", "7"])
    assert rc == 0
    lines = []
    for f in os.listdir(gen_out):
        if f.startswith("part-"):
            lines += open(os.path.join(gen_out, f)).read().splitlines()
    assert len(lines) == 50

    sink = str(tmp_path / "parsed")
    miss = str(tmp_path / "miss")

    oml = f"{EXAMPLE_SIMPLE}/model.oml"
    rc = main([
        "wparse", "--wpl", wpl, "--oml", oml,
        "--input", gen_out,
        "--sink", f"ok={sink}:json",
        "--sink", f"miss={miss}:raw",
    ])
    assert rc == 0
    parsed = []
    for root, _dirs, files in os.walk(sink):
        for f in files:
            if f.startswith("part-"):
                parsed += open(os.path.join(root, f)).read().splitlines()
    # every generated line parses (round-trip property at CLI level)
    assert len(parsed) == 50


@needs_reference
def test_wparse_on_reference_sample(spark, tmp_path):
    """The reference's own sample.dat through the CLI with its own rule."""
    sink = str(tmp_path / "out")
    # no OML: parsed records flow to the DEFAULT branch (reference
    # semantics — data sink groups select OML models), so the catch-all
    # sink must be named `default`
    rc = main([
        "wparse", "--wpl", f"{INSTANCE}/wpl/example/simple/parse.wpl",
        "--input", f"{INSTANCE}/wpl/example/simple/sample.dat",
        "--sink", f"default={sink}:kv",
    ])
    assert rc == 0
    lines = []
    for root, _dirs, files in os.walk(sink):
        for f in files:
            if f.startswith("part-"):
                lines += open(os.path.join(root, f)).read().splitlines()
    assert len(lines) == 1
    assert "sip=222.133.52.20" in lines[0]  # raw WPL field names (src_ip is the OML rename)


def test_wprescue_requires_a_source(spark):
    rc = main(["wprescue", "--wpl", f"{EXAMPLE_SIMPLE}/parse.wpl"])
    assert rc == 2


def test_wpgen_sample_mode(spark, tmp_path):
    sample = tmp_path / "sample.dat"
    sample.write_text("line-a\nline-b\nline-c\n")
    out = str(tmp_path / "gen_sample")
    rc = main(["wpgen", "--sample", str(sample), "-n", "10", "--out", out])
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += open(os.path.join(out, f)).read().splitlines()
    assert len(lines) == 10
    from collections import Counter

    c = Counter(lines)
    assert set(c) == {"line-a", "line-b", "line-c"}
    assert sorted(c.values()) == [3, 3, 4]  # round-robin coverage


def test_wpgen_sample_mode_caps_driver_collect(spark, tmp_path, monkeypatch):
    """An oversized sample must be refused, not collect()ed to the driver."""
    from wp_motor_spark import cli

    monkeypatch.setattr(cli, "SAMPLE_LINE_CAP", 5)
    sample = tmp_path / "big.dat"
    sample.write_text("".join(f"line-{i}\n" for i in range(6)))
    out = str(tmp_path / "gen_big")
    rc = main(["wpgen", "--sample", str(sample), "-n", "10", "--out", out])
    assert rc == 2
    assert not os.path.exists(out)


def test_wpgen_config_mode_v2_connector_sink(spark, tmp_path):
    """tests/wpgen_rule_exec.rs::wpgen_rule_from_files_produces_data: v2
    wpgen.toml [generator] count + [output] connect resolved against
    connectors/sink.d."""
    cdir = tmp_path / "connectors" / "sink.d"
    cdir.mkdir(parents=True)
    (cdir / "fj.toml").write_text(
        """
[[connectors]]
id = "file_json_sink"
type = "file"
allow_override = ["base", "file", "path", "fmt"]
[connectors.params]
fmt = "json"
base = "./data/out_dat"
file = "out.dat"
"""
    )
    (tmp_path / "wpgen.toml").write_text(
        """
version = "1.0"
[generator]
mode = "rule"
count = 8
[output]
connect = "file_json_sink"
"""
    )
    rules = tmp_path / "rules"
    rules.mkdir()
    (rules / "gen_rule.wpl").write_text("package /smoke { rule r1 { (digit,ip,chars) } }")
    rc = main(["wpgen", "--config", str(tmp_path / "wpgen.toml"), "--wpl", str(rules)])
    assert rc == 0
    out = tmp_path / "data" / "out_dat" / "out.dat"
    lines = [
        ln
        for f in os.listdir(out)
        if f.startswith("part-")
        for ln in open(out / f).read().splitlines()
    ]
    assert len(lines) == 8


@needs_reference
def test_wpgen_config_mode_v1_instance(spark, tmp_path):
    """The instance's own conf/wpgen.toml (v1 [main_conf] gen_count=1000,
    out_ref -> [out_file] target path ./src_dat/gen.dat)."""
    import shutil

    root = tmp_path / "instance"
    shutil.copytree(INSTANCE, root)
    rc = main([
        "wpgen",
        "--config", str(root / "conf" / "wpgen.toml"),
        "--wpl", str(root / "wpl" / "example" / "simple"),
    ])
    assert rc == 0
    out = root / "src_dat" / "gen.dat"
    n = sum(
        len(open(out / f).read().splitlines())
        for f in os.listdir(out)
        if f.startswith("part-")
    )
    assert n == 1000


def test_wpgen_config_mode_missing_connector(spark, tmp_path):
    (tmp_path / "wpgen.toml").write_text(
        "[generator]\ncount = 5\n[output]\nconnect = \"nope\"\n"
    )
    rc = main(["wpgen", "--config", str(tmp_path / "wpgen.toml"), "--wpl", "x"])
    assert rc == 2


def test_wparse_line_max_and_print_stat(spark, tmp_path, capsys):
    """wparse -n (RunArgs line_max) caps input; -p prints the batch-end
    per-rule/disposition stats (03-wparse.md common parameters)."""
    wpl = tmp_path / "r.wpl"
    wpl.write_text("rule r { (chars:msg) }")
    oml = tmp_path / "m.oml"
    oml.write_text("name : m\nrule : r\n---\nmsg = read(msg);\n")
    data = tmp_path / "in.dat"
    data.write_text("a\nb\nc\nd\n")
    out = str(tmp_path / "o")
    rc = main([
        "wparse", "--wpl", str(wpl), "--oml", str(oml),
        "--input", str(data), "--sink", f"out={out}:raw",
        "-n", "2", "-p",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "wparse: sink out: 2 lines" in printed
    assert "stat[parse] r success: 2" in printed


def test_parse_workers_flag(tmp_path, capsys):
    """-w/--parse-workers maps the reference's thread count onto session
    parallelism; the run still parses correctly at low parallelism."""
    from wp_motor_spark.cli import main

    inp = tmp_path / "in.dat"
    inp.write_text("1.2.3.4 200 hello\n")
    wpl_file = tmp_path / "r.wpl"
    wpl_file.write_text("rule r { (ip:sip,digit:code,chars:msg) }\n")
    rc = main([
        "wparse", "--wpl", str(wpl_file),
        "--input", str(inp),
        "--sink", f"out={tmp_path / 'out'}:json",
        "-w", "2", "-p",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "success" in out


def test_wpgen_subcommand_forms(spark, tmp_path):
    """01-cli/04-wpgen.md subcommand surface: conf init/check, rule -c -n,
    sample -n, data clean."""
    import os

    from wp_motor_spark.cli import main as cli_main

    root = str(tmp_path / "ws")
    # conf init writes the default config; check validates it
    assert cli_main(["wpgen", "conf", "init", "-w", root]) == 0
    assert os.path.exists(os.path.join(root, "conf", "wpgen.toml"))
    assert cli_main(["wpgen", "conf", "check", "-w", root]) == 0

    # rule mode needs a rule tree + the connector the default conf names
    os.makedirs(os.path.join(root, "models", "wpl"))
    with open(os.path.join(root, "models", "wpl", "gen_rule.wpl"), "w") as fh:
        fh.write("rule g { (chars:word,digit:n) }\n")
    os.makedirs(os.path.join(root, "connectors", "sink.d"))
    with open(os.path.join(root, "connectors", "sink.d", "raw.toml"), "w") as fh:
        fh.write(
            '[[connectors]]\nid = "file_raw_sink"\ntype = "file"\n'
            'params = { base = "data/in_dat", file = "gen.dat", fmt = "raw" }\n'
            'allow_override = ["base", "file"]\n'
        )
    assert cli_main(["wpgen", "rule", "-w", root, "-n", "37"]) == 0
    out_dir = os.path.join(root, "data", "in_dat", "gen.dat")
    n = spark.read.text(out_dir).count()
    assert n == 37  # explicit -n overrides the config count

    # data clean removes the configured output base
    assert cli_main(["wpgen", "data", "clean", "-w", root]) == 0
    assert not os.path.exists(out_dir)

    # conf check fails loudly on a broken config
    with open(os.path.join(root, "conf", "wpgen.toml"), "w") as fh:
        fh.write("version = !!!")
    assert cli_main(["wpgen", "conf", "check", "-w", root]) == 1


def test_wparse_wpl_directory_override(spark, tmp_path):
    """03-wparse.md: --wpl is the WPL rules DIRECTORY override — all
    *.wpl under it load into the multi-rule cascade."""
    import os

    from wp_motor_spark.cli import main as cli_main

    rules = tmp_path / "rules"
    (rules / "sub").mkdir(parents=True)
    (rules / "a.wpl").write_text("rule kv { (chars:word,digit:n) }\n")
    (rules / "sub" / "b.wpl").write_text("rule ip_line { (ip:addr) }\n")
    data = tmp_path / "in.dat"
    data.write_text("alpha 7\n10.1.2.3\n")
    sink = tmp_path / "out"
    rc = cli_main([
        "wparse", "--wpl", str(rules), "--input", str(data),
        "--sink", f"default={sink}:kv",  # no OML -> default branch
    ])
    assert rc == 0
    lines = sorted(
        r["value"] for r in spark.read.text(str(sink)).collect()
    )
    assert any("word=alpha" in ln for ln in lines)
    assert any("addr=10.1.2.3" in ln for ln in lines)


def test_wparse_wpl_directory_skips_same_key_generator_dual(spark, tmp_path):
    """--wpl DIR reads the rule set the way the workspace loader does: a
    gen_rule.wpl that redefines parse.wpl's key is skipped, so the sample
    line parses instead of the duplicate key stopping the run."""
    import shutil

    from wp_motor_spark.cli import main as cli_main

    rules = tmp_path / "rules"
    rules.mkdir()
    shutil.copy(f"{EXAMPLE_SIMPLE}/parse.wpl", rules / "parse.wpl")
    shutil.copy(f"{EXAMPLE_SIMPLE}/parse.wpl", rules / "gen_rule.wpl")
    sink = tmp_path / "out"
    rc = cli_main([
        "wparse", "--wpl", str(rules), "--input", f"{EXAMPLE_SIMPLE}/sample.dat",
        "--sink", f"default={sink}:kv",  # no OML -> default branch
    ])
    assert rc == 0
    lines = [r["value"] for r in spark.read.text(str(sink)).collect()]
    assert len(lines) == 1 and "sip=" in lines[0]


def test_wparse_work_root_workspace_mode(spark, tmp_path, capsys, monkeypatch):
    """facade/args.rs + 01-cli README: the reference's primary form is
    `wparse batch --work-root <ws>` — wpl/oml/sinks/SOURCES all come
    from the workspace tree; --max-line is the reference spelling of
    -n; --robust release-stage aliases map onto Debug/Normal/Strict;
    WP_PARSE_ROBUST is the documented env fallback."""
    from wp_motor_spark.cli import main as cli_main

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
    (root / "topology" / "sinks").mkdir(parents=True)
    (root / "src_dat").mkdir()
    (root / "src_dat" / "gen.dat").write_text("alpha 1\nbravo 2\ncharlie 3\n")
    (root / "topology" / "sources" / "wpsrc.toml").write_text(
        "[[source_file]]\n"
        'key = "file_1"\n'
        'path = "./src_dat/gen.dat"\n'
        "enable = true\n"
        'encode = "text"\n'
        "tags = []\n"
    )
    (root / "topology" / "sinks" / "sink.toml").write_text(
        "[sink_group]\n"
        'name = "out"\n'
        "[[sink_group.sinks]]\n"
        'target = "file"\npath = "out/out.dat"\nfmt = "kv"\n'
    )

    monkeypatch.setenv("WP_PARSE_ROBUST", "online")  # -> strict
    rc = cli_main(
        ["wparse", "--work-root", str(root), "--max-line", "2", "-p"]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "sink out: 2 lines" in printed  # --max-line capped 3 -> 2
    # and the release-stage CLI alias wins over env
    rc = cli_main(
        ["wparse", "--work-root", str(root), "--robust", "develop", "-n", "1"]
    )
    assert rc == 0


def test_wparse_batch_subcommand_spelling(spark, tmp_path, capsys):
    """facade/args.rs: the reference invokes `wparse batch ...` /
    `wparse engine ...` — both normalize onto our batch path."""
    from wp_motor_spark.cli import main as cli_main

    wpl = tmp_path / "p.wpl"
    wpl.write_text("package /t { rule kv { (chars:word,digit:n) } }\n")
    oml = tmp_path / "t.oml"
    oml.write_text("name : t_kv\nrule :\n    /t/kv\n---\n* = take() ;\n")
    dat = tmp_path / "in.dat"
    dat.write_text("alpha 1\nbravo 2\n")
    rc = cli_main(
        ["wparse", "batch", "--wpl", str(wpl), "--oml", str(oml),
         "--input", str(dat), "--sink", f"out={tmp_path}/out.dat:kv"]
    )
    assert rc == 0
    assert "sink out: 2 lines" in capsys.readouterr().out


def test_wprescue_workspace_explicit_rescue_dir_wins(spark, tmp_path, capsys):
    """Workspace-mode wprescue with an explicit --rescue-dir must replay
    THAT spool, not the workspace's configured one (args.rs
    completion_from: CLI wins over conf). Regression: the flag used to be
    presence-checked only, silently replaying the workspace spool."""
    import json

    from wp_motor_spark.cli import main as cli_main
    from wp_motor_spark.sinks import rescue as rsc

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
    (root / "topology" / "sinks").mkdir(parents=True)
    sink_path = root / "out" / "out.dat"
    (root / "topology" / "sinks" / "sink.toml").write_text(
        "[sink_group]\n"
        'name = "out"\n'
        "[[sink_group.sinks]]\n"
        f'target = "file"\npath = "{sink_path}"\nfmt = "kv"\n'
    )

    # spool two pre-formatted lines in a NON-workspace rescue dir
    custom = str(tmp_path / "elsewhere")
    spool = spark.createDataFrame([("word=a n=1",), ("word=b n=2",)], ["line"])
    rsc.rescue_lines(spool, custom, "out")

    rc = cli_main(
        ["wprescue", "--work-root", str(root), "--rescue-dir", custom]
    )
    assert rc == 0
    assert "replayed 2 lines -> sink out" in capsys.readouterr().out
    delivered = {r["value"] for r in spark.read.text(str(sink_path)).collect()}
    assert delivered == {"word=a n=1", "word=b n=2"}
    assert rsc.pending_sinks(custom) == []  # the CLI-given spool drained
