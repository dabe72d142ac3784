"""wproj project lifecycle CLI: init scaffolds a workspace the loader and
checker accept; check validates the REFERENCE instance and catches broken
rules; rule list inventories compiled rules. The tests that drive the
reference checkout's instance are marked needs_reference and skip when
that tree is absent."""

from __future__ import annotations

import json

from conftest import EXAMPLE_SIMPLE, REF, needs_reference
from wp_motor_spark.wproj import main

INSTANCE = f"{REF}/tests/instance"


def test_init_check_round_trip(tmp_path, capsys):
    root = str(tmp_path / "proj")
    assert main(["init", "-w", root, "--mode", "full"]) == 0
    assert main(["check", "-w", root]) == 0
    out = capsys.readouterr().out
    assert "7/7 ok" in out  # full mode adds the two connector templates
    # idempotent: re-init never clobbers, check still green
    assert main(["init", "-w", root, "--mode", "full"]) == 0
    assert "wrote 0 files" in capsys.readouterr().out


@needs_reference
def test_check_validates_reference_instance(capsys):
    assert main(["check", "-w", INSTANCE]) == 0
    out = capsys.readouterr().out
    assert "FAIL" not in out


def test_check_catches_broken_wpl_and_json_mode(tmp_path, capsys):
    root = str(tmp_path / "proj")
    main(["init", "-w", root, "--mode", "full"])
    capsys.readouterr()
    (tmp_path / "proj" / "wpl" / "broken.wpl").write_text(
        "package /x {\n  rule bad {\n    (nosuchtype:f)\n  }\n}\n"
    )
    rc = main(["check", "-w", root, "--json", "--only-fail"])
    assert rc == 1
    rows = json.loads(capsys.readouterr().out)
    assert len(rows) == 1
    assert rows[0]["ok"] is False and "broken.wpl" in rows[0]["path"]
    # --what selection skips the broken rule entirely
    assert main(["check", "-w", root, "--what", "conf,oml"]) == 0


@needs_reference
def test_rule_list_reference_instance(capsys):
    assert main(["rule", "list", "-w", INSTANCE]) == 0
    out = capsys.readouterr().out
    assert "/example/simple/nginx" in out
    assert "sip:ip" in out


@needs_reference
def test_rule_parse_offline_on_reference_sample(spark, capsys):
    rc = main([
        "rule", "parse", "-w", INSTANCE,
        "--sample", f"{INSTANCE}/wpl/example/simple/sample.dat",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "/example/simple/nginx" in out and "success" in out


def test_rule_parse_skips_same_key_generator_dual(spark, tmp_path, capsys):
    """A gen_rule.wpl beside parse.wpl that redefines its rule key is the
    reference layout; rule parse reads the directory the way the workspace
    loader does (parse.wpl wins), so the key compiles once."""
    import shutil

    simple = tmp_path / "proj" / "wpl" / "example" / "simple"
    simple.mkdir(parents=True)
    for name in ("parse.wpl", "sample.dat"):
        shutil.copy(f"{EXAMPLE_SIMPLE}/{name}", simple / name)
    shutil.copy(f"{EXAMPLE_SIMPLE}/parse.wpl", simple / "gen_rule.wpl")
    assert main(["rule", "parse", "-w", str(tmp_path / "proj")]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == ["/example/simple/nginx  success  1"]


def test_data_stat_and_clean(tmp_path, capsys):
    import os

    root = str(tmp_path / "proj")
    main(["init", "-w", root, "--mode", "full"])
    with open(os.path.join(root, "data", "demo.dat"), "w") as f:
        f.write("a\nb\nc\n")
    capsys.readouterr()
    assert main(["data", "stat", "-w", root]) == 0
    out = capsys.readouterr().out
    assert "demo_file: 3 lines" in out

    # clean removes only sink dirs INSIDE the workspace
    sink_dir = os.path.join(root, "out", "data")
    os.makedirs(sink_dir, exist_ok=True)
    with open(os.path.join(sink_dir, "part-0"), "w") as f:
        f.write("x\n")
    assert main(["data", "clean", "-w", root]) == 0
    assert not os.path.exists(sink_dir)
    assert os.path.exists(os.path.join(root, "data", "demo.dat"))  # inputs kept


@needs_reference
def test_data_check_and_validate_lifecycle(spark, tmp_path, capsys):
    """wproj data check (source connectivity) + data validate (delivery
    ratios vs input, 02-wproj.md): fill the configured source with wpgen,
    run the assembled pipeline, then validate sink ratios — an `expect`
    block turns the ratio into a PASS/FAIL gate."""
    import os
    import shutil

    from wp_motor_spark.config import build_pipeline, load_workspace

    root = tmp_path / "instance"
    shutil.copytree(INSTANCE, root)

    # check fails while the configured source file is absent
    assert main(["data", "check", "-w", str(root)]) == 1
    out = capsys.readouterr().out
    assert "MISSING" in out

    from wp_motor_spark.wpl.generator import generate_lines
    from wp_motor_spark.wpl.parser import parse_wpl

    rule = parse_wpl((root / "wpl/example/simple/gen_rule.wpl").read_text())[0]
    (root / "src_dat").mkdir()
    (root / "src_dat" / "gen.dat").write_text(
        "\n".join(r[0] for r in generate_lines(spark, rule, 40, seed=2).collect())
        + "\njunk ###\n"
    )
    assert main(["data", "check", "-w", str(root)]) == 0

    # run the workspace pipeline so sinks hold output (out_root=workspace
    # out/ so validate sees the same paths)
    ws = load_workspace(str(root))
    pipe, inputs = build_pipeline(ws)
    pipe.write_batch(spark.read.text(inputs))

    # no expect blocks: informational, rc 0
    assert main(["data", "validate", "-w", str(root)]) == 0
    out = capsys.readouterr().out
    assert "sink other: 40/41" in out  # 40 parsed; the junk line -> miss
    # give `other` an expect gate that FAILS (ratio 1.0 means every input
    # line delivered; the junk line went to miss, so ratio is 40/41)
    sink_toml = root / "topology" / "sinks" / "sink.toml"
    sink_toml.write_text(
        sink_toml.read_text()
        + "\n[sink_group.expect]\nbasis = \"total_input\"\nmode = \"error\"\nratio = 1.0\ntol = 0.0\n"
    )
    assert main(["data", "validate", "-w", str(root)]) == 1
    out = capsys.readouterr().out
    assert "FAIL" in out
    # widen the tolerance -> PASS
    sink_toml.write_text(
        sink_toml.read_text().replace("tol = 0.0", "tol = 0.05")
    )
    assert main(["data", "validate", "-w", str(root)]) == 0
    out = capsys.readouterr().out
    assert "PASS" in out


def test_know_init_check_clean_lifecycle(tmp_path, capsys):
    """wproj know init/check/clean (wp-cli-core knowdb::{init,check,clean}):
    scaffold, verify the table contract (create/insert/data/columns),
    fail when the data file vanishes, clean removes the tree."""
    root = str(tmp_path)
    assert main(["know", "init", "-w", root, "--full"]) == 0
    kdir = tmp_path / "models" / "knowledge"
    assert (kdir / "knowdb.toml").exists()
    assert (kdir / "example" / "create.sql").exists()
    assert main(["know", "check", "-w", root]) == 0
    (kdir / "example" / "data.csv").unlink()
    assert main(["know", "check", "-w", root]) == 1
    out = capsys.readouterr().out
    assert "data_ok=N" in out
    assert main(["know", "clean", "-w", root]) == 0
    assert not kdir.exists()
    # check on a cleaned workspace reports the missing config
    assert main(["know", "check", "-w", root]) == 1


def test_knowdb_toml_spark_loader(spark, tmp_path):
    """KnowDB.load_knowdb_toml: the scaffolded v2 config loads as a
    broadcastable table with the by_header column selection; an
    expected_rows violation raises (on_error = fail)."""
    import pytest as _pytest

    from wp_motor_spark.knowdb import KnowDB

    root = str(tmp_path)
    assert main(["know", "init", "-w", root, "--full"]) == 0
    kdb = KnowDB(spark).load_knowdb_toml(root)
    df = kdb.table("example")
    assert df.columns == ["name", "pinying"]
    assert df.count() == 2
    # tighten expected_rows below the actual count -> load fails
    conf = tmp_path / "models" / "knowledge" / "knowdb.toml"
    conf.write_text(conf.read_text().replace("min = 1", "min = 3"))
    with _pytest.raises(ValueError, match="outside expected"):
        KnowDB(spark).load_knowdb_toml(root)


def test_data_validate_group_semantics(spark, tmp_path, capsys):
    """validate/core.rs validate_groups parity: group_input default
    basis, min_samples skip, per-sink min/max, others_max, sum_tol, and
    warn-vs-error mode. Built on a synthetic 2-sink business group."""
    import os

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
    biz = root / "topology" / "sinks" / "business.d"
    biz.mkdir(parents=True)
    (root / "topology" / "sinks" / "filter.cond").write_text("n > 5\n")
    (biz / "grp.toml").write_text(
        "[sink_group]\n"
        'name = "/g"\n'
        "[sink_group.expect]\n"
        'mode = "error"\n'
        "sum_tol = 0.1\n"
        "others_max = 0.0\n"
        "[[sink_group.sinks]]\n"
        'name = "hot"\n'
        'target = "file"\npath = "out/hot.dat"\nfmt = "raw"\n'
        'filter = "topology/sinks/filter.cond"\nfilter_expect = true\n'
        "[sink_group.sinks.expect]\n"
        "ratio = 0.5\ntol = 0.2\n"
        "[[sink_group.sinks]]\n"
        'name = "cold"\n'
        'target = "file"\npath = "out/cold.dat"\nfmt = "raw"\n'
        "[sink_group.sinks.expect]\n"
        "min = 0.3\nmax = 0.8\n"
    )
    from wp_motor_spark.config import build_pipeline, load_workspace

    ws = load_workspace(str(root))
    pipe, _ = build_pipeline(ws)
    # 4 rows: one routes hot (n>5), all four route cold
    raw = spark.createDataFrame(
        [("a 1",), ("b 2",), ("c 9",), ("d 3",)], ["value"]
    )
    pipe.write_batch(raw)

    from wp_motor_spark.wproj import main

    # group basis (default group_input): denom = 1 + 4 = 5;
    # hot 1/5 = 0.2 (outside 0.5±0.2 -> FAIL under mode=error);
    # cold 4/5 = 0.8 (inside [0.3, 0.8] -> PASS);
    # sum(ratio-configured) = 0.2, |0.2-1| > 0.1 -> sum_tol FAIL
    rc = main(["data", "validate", "-w", str(root), "--input-cnt", "4"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "sink hot: 1/5" in out and "FAIL" in out
    assert "sink cold: 4/5" in out and "PASS" in out
    assert "sum(ratio)=0.2000" in out

    # warn mode: same violations, but rc 0
    (biz / "grp.toml").write_text(
        (biz / "grp.toml").read_text().replace('mode = "error"', 'mode = "warn"')
    )
    rc = main(["data", "validate", "-w", str(root), "--input-cnt", "4"])
    out = capsys.readouterr().out
    assert rc == 0 and "WARN" in out

    # min_samples above the denominator: whole group skipped
    (biz / "grp.toml").write_text(
        (biz / "grp.toml").read_text().replace(
            "sum_tol = 0.1", "sum_tol = 0.1\nmin_samples = 1000"
        )
    )
    rc = main(["data", "validate", "-w", str(root), "--input-cnt", "4"])
    out = capsys.readouterr().out
    assert rc == 0 and "ignored (samples 5 < min_samples 1000)" in out


def test_check_connectors_item(tmp_path, capsys):
    """02-wproj.md --what connectors: connector defs validate (id/type
    present, TOML parses) and sink-route connect references resolve."""
    root = tmp_path / "ws"
    (root / "connectors" / "sink.d").mkdir(parents=True)
    (root / "connectors" / "sink.d" / "ok.toml").write_text(
        '[[connectors]]\nid = "file_kv_sink"\ntype = "file"\n'
        'params = { base = "out", file = "a.dat", fmt = "kv" }\n'
    )
    (root / "topology" / "sinks").mkdir(parents=True)
    (root / "topology" / "sinks" / "grp.toml").write_text(
        '[sink_group]\nname = "g"\n'
        '[[sink_group.sinks]]\nconnect = "file_kv_sink"\n'
    )
    assert main(["check", "-w", str(root), "--what", "connectors"]) == 0
    out = capsys.readouterr().out
    assert "1 connector(s)" in out

    # a dangling connect reference fails the check
    (root / "topology" / "sinks" / "bad.toml").write_text(
        '[sink_group]\nname = "b"\n'
        '[[sink_group.sinks]]\nconnect = "nope_sink"\n'
    )
    assert main(["check", "-w", str(root), "--what", "connectors"]) == 1
    out = capsys.readouterr().out
    assert "unresolved connect 'nope_sink'" in out

    # missing id/type fails
    (root / "connectors" / "sink.d" / "broken.toml").write_text(
        '[[connectors]]\ntype = "file"\n'
    )
    assert main(["check", "-w", str(root), "--what", "connectors",
                 "--only-fail"]) == 1


def test_init_modes_prj_scope(tmp_path, capsys):
    """wp-proj project/init.rs PrjScope: only FULL writes the connector
    templates (test_init_mode_enable_connector); model/conf/data write
    their own slice only; an unknown mode errors with 'not init mode'
    (test_init_mode_from_str)."""
    import os

    for mode, want_conn, want_model, want_conf in [
        ("full", True, True, True),
        ("model", False, True, False),
        ("conf", False, False, True),
        ("data", False, False, False),
    ]:
        root = str(tmp_path / mode)
        assert main(["init", "-w", root, "--mode", mode]) == 0
        assert os.path.exists(os.path.join(root, "connectors")) == want_conn, mode
        assert os.path.exists(os.path.join(root, "oml", "demo.oml")) == want_model, mode
        assert os.path.exists(os.path.join(root, "conf", "wparse.toml")) == want_conf, mode
    assert main(["init", "-w", str(tmp_path / "x"), "--mode", "invalid"]) == 2
    assert "not init mode" in capsys.readouterr().err
