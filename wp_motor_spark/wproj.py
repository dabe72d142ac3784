"""wproj — project lifecycle CLI (docs/usage/en/01-cli/02-wproj.md):
init (scaffold a workspace our loader reads back), check (batch-validate
config + WPL/OML syntax, --what selection, --json/--only-fail/--fail-fast),
rule list (compiled-rule inventory with field summaries).

Invoked as `python -m wp_motor_spark.wproj ...` or via cli.py's `wproj`
subcommand. Pure driver-side — no SparkSession needed for init/check/rule,
so config validation runs in milliseconds before any cluster spin-up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_DEFAULT_WPL = """package /example {
    rule demo {
        (time_3339:ts,ip:sip,digit:status,chars:msg")
    }
}
"""

_DEFAULT_OML = """name : demo
rule :
    /example/demo
---
ts     = take() ;
src_ip = take(option:[sip]) ;
*      = take() ;
"""

_DEFAULT_CONF = """# wp-motor-spark workspace configuration
[engine]
parallel = 4

[stat]
windows = [60]
"""

_DEFAULT_SOURCE = """[[source_file]]
key = "demo_file"
enable = true
path = "data/demo.dat"

[source_file.tags]
dev_type = "demo"
"""

_DEFAULT_SINK = """[out]
name = "out"

[[out.sinks]]
name = "out_sink"
fmt = "json"
target = "file"
path = "./out/data"
"""


_DEFAULT_SRC_CONNECTOR = """[[connectors]]
id = "file_default_source"
type = "file"
allow_override = ["path"]
[connectors.params]
path = "./data/in.dat"
"""

_DEFAULT_SINK_CONNECTOR = """[[connectors]]
id = "file_json_sink"
type = "file"
allow_override = ["base", "file", "path", "fmt"]
[connectors.params]
fmt = "json"
base = "./data/out_dat"
file = "default.dat"
"""


def cmd_init(root: str, mode: str) -> int:
    # PrjScope (wp-proj project/init.rs): full|model|conf|data from the
    # CLI; ONLY Full enables the connector templates
    # (test_init_mode_enable_connector); model writes models only, conf
    # the config only, data the data dirs only. "normal" is kept as a
    # legacy alias of the conf+model+data+topology set (the reference's
    # internal Normal variant, not parseable from its CLI).
    layout = {
        "conf": {"conf/wparse.toml": _DEFAULT_CONF},
        "model": {
            "wpl/example/demo.wpl": _DEFAULT_WPL,
            "oml/demo.oml": _DEFAULT_OML,
        },
        "data": {"data/.keep": "", "out/.keep": ""},
        "topology": {
            "topology/sources/default.toml": _DEFAULT_SOURCE,
            "topology/sinks/default.toml": _DEFAULT_SINK,
        },
        "connectors": {
            "connectors/source.d/file_default.toml": _DEFAULT_SRC_CONNECTOR,
            "connectors/sink.d/file_json_sink.toml": _DEFAULT_SINK_CONNECTOR,
        },
    }
    groups = {
        "conf": ["conf"],
        "model": ["model"],
        "data": ["data"],
        "normal": ["conf", "model", "data", "topology"],
        "full": ["conf", "model", "data", "topology", "connectors"],
    }.get(mode)
    if groups is None:
        # init.rs test_init_mode_from_str pins the error wording
        print(f"wproj init: {mode!r} not init mode", file=sys.stderr)
        return 2
    written = 0
    for g in groups:
        for rel, content in layout[g].items():
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            if not os.path.exists(path):  # never clobber existing work
                with open(path, "w") as fh:
                    fh.write(content)
                written += 1
    print(f"wproj init: mode={mode} wrote {written} files under {root}")
    return 0


def _model_dirs(root: str) -> tuple[str, str]:
    """Configured model roots, by load_workspace's rule (config.model_dirs);
    an unreadable conf counts as empty here — the conf check reports it."""
    import tomllib

    from wp_motor_spark.config import model_dirs

    conf: dict = {}
    p = os.path.join(root, "conf", "wparse.toml")
    if os.path.exists(p):
        try:
            conf = tomllib.load(open(p, "rb"))
        except Exception:  # noqa: BLE001 - conf check reports this itself
            conf = {}
    return model_dirs(root, conf)


def _checks(root: str, what: set[str]):
    """Yield (item, name, ok, detail) tuples."""
    import glob as g

    import tomllib

    wpl_root, oml_root = _model_dirs(root)

    if "conf" in what:
        p = os.path.join(root, "conf/wparse.toml")
        if not os.path.exists(p):
            yield ("conf", p, False, "missing")
        else:
            try:
                tomllib.load(open(p, "rb"))
                yield ("conf", p, True, "")
            except Exception as ex:  # noqa: BLE001
                yield ("conf", p, False, str(ex))
    if "connectors" in what:
        found = False
        known_ids: set[str] = set()
        for scope in ("source", "sink"):
            paths = {
                os.path.realpath(p)
                for p in g.glob(
                    os.path.join(root, f"**/connectors/{scope}.d/*.toml"),
                    recursive=True,
                )
            }
            for p in sorted(paths):
                found = True
                try:
                    doc = tomllib.load(open(p, "rb"))
                    conns = doc.get("connectors", [])
                    known_ids |= {c["id"] for c in conns if c.get("id")}
                    bad = [c for c in conns if not c.get("id") or not c.get("type")]
                    if bad:
                        yield ("connectors", p, False, "connector missing id/type")
                    else:
                        yield ("connectors", p, True, f"{len(conns)} connector(s)")
                except Exception as ex:  # noqa: BLE001
                    yield ("connectors", p, False, str(ex))
        if found:
            # route files referencing connect=<id> must resolve against
            # the ids seen in the defs just validated
            for p in sorted(
                g.glob(os.path.join(root, "topology/sinks/**/*.toml"),
                       recursive=True)
            ):
                try:
                    doc = tomllib.load(open(p, "rb"))
                except Exception:  # noqa: BLE001 - sinks check reports parse errors
                    continue
                grp = doc.get("sink_group", {})
                for sdef in grp.get("sinks", []):
                    use = sdef.get("connect") or sdef.get("use") or sdef.get("connector")
                    if use and use not in known_ids:
                        yield ("connectors", p, False, f"unresolved connect {use!r}")
    if "sources" in what or "sinks" in what:
        for kind in ("sources", "sinks"):
            if kind not in what:
                continue
            for p in sorted(g.glob(os.path.join(root, f"topology/{kind}/**/*.toml"),
                                    recursive=True)):
                try:
                    tomllib.load(open(p, "rb"))
                    yield (kind, p, True, "")
                except Exception as ex:  # noqa: BLE001
                    yield (kind, p, False, str(ex))
    if "wpl" in what:
        from wp_motor_spark.wpl import compile_rule, parse_wpl
        from wp_motor_spark.wpl.compiler import unknown_field_types

        for p in sorted(g.glob(os.path.join(wpl_root, "**/*.wpl"), recursive=True)):
            try:
                rules = parse_wpl(open(p).read())
                bad: list[str] = []
                for r in rules:
                    compile_rule(r)
                    bad += unknown_field_types(r)
                if bad:
                    # the compiler falls back to chars for unknown types;
                    # at check time that is almost always a typo
                    yield ("wpl", p, False, f"unknown field type(s): {bad}")
                else:
                    yield ("wpl", p, True, f"{len(rules)} rule(s)")
            except Exception as ex:  # noqa: BLE001
                yield ("wpl", p, False, str(ex))
    if "oml" in what:
        from wp_motor_spark.oml.parser import parse_oml

        for p in sorted(g.glob(os.path.join(oml_root, "**/*.oml"), recursive=True)):
            try:
                model = parse_oml(open(p).read())
                yield ("oml", p, True, f"model {model.name}")
            except Exception as ex:  # noqa: BLE001
                yield ("oml", p, False, str(ex))


def cmd_check(root: str, what: str, as_json: bool, only_fail: bool,
              fail_fast: bool) -> int:
    sel = (
        {"conf", "connectors", "sources", "sinks", "wpl", "oml"}
        if what == "all"
        else {w.strip() for w in what.split(",")}
    )
    results = []
    rc = 0
    for item in _checks(root, sel):
        results.append(item)
        if not item[2]:
            rc = 1
            if fail_fast:
                break
    shown = [r for r in results if not (only_fail and r[2])]
    if as_json:
        print(json.dumps([
            {"item": i, "path": p, "ok": ok, "detail": d}
            for i, p, ok, d in shown
        ]))
    else:
        for i, p, ok, d in shown:
            mark = "ok  " if ok else "FAIL"
            print(f"{mark} [{i}] {p} {d}")
        print(f"wproj check: {sum(1 for r in results if r[2])}/{len(results)} ok")
    return rc


def cmd_rule_list(root: str) -> int:
    import glob as g

    from wp_motor_spark.wpl import compile_rule, parse_wpl

    for p in sorted(g.glob(os.path.join(root, "wpl/**/*.wpl"), recursive=True)):
        for rule in parse_wpl(open(p).read()):
            cr = compile_rule(rule)
            fields = ", ".join(f"{o.name}:{o.dtype}" for o in cr.outputs)
            print(f"{cr.key}  ({os.path.relpath(p, root)})  [{fields}]")
    return 0


def cmd_data_stat(root: str) -> int:
    """Line/byte counts for every enabled file source and every sink
    output directory — driver-side streaming reads (no Spark spin-up;
    this is a project check, not a corpus job)."""
    from wp_motor_spark.config import load_workspace

    ws = load_workspace(root)
    total = 0
    for s in ws.sources:
        if s.kind != "file" or not s.enable or not s.path:
            continue
        p = s.path if os.path.isabs(s.path) else os.path.join(root, s.path)
        if not os.path.exists(p):
            print(f"source {s.key}: MISSING {p}")
            continue
        lines = _path_line_count(p)
        total += lines
        print(f"source {s.key}: {lines} lines ({p})")
    for sk in ws.sinks:
        if sk.kind == "file" and sk.path and os.path.isdir(sk.path):
            n = sum(
                open(os.path.join(r, f), "rb").read().count(b"\n")
                for r, _d, fs in os.walk(sk.path)
                for f in fs
                if not f.startswith((".", "_"))
            )
            print(f"sink {sk.name}: {n} lines ({sk.path})")
    print(f"wproj data stat: {total} total source lines")
    return 0


def cmd_data_clean(root: str) -> int:
    """Remove file-sink OUTPUT directories — refuses anything that
    escapes the workspace root (a sink misconfigured to /, say)."""
    import shutil

    from wp_motor_spark.config import load_workspace

    ws = load_workspace(root)
    rroot = os.path.realpath(root)
    removed = 0
    for sk in ws.sinks:
        if sk.kind != "file" or not sk.path:
            continue
        real = os.path.realpath(sk.path)
        if not real.startswith(rroot + os.sep):
            print(f"wproj data clean: SKIP {sk.name} ({real} outside {rroot})")
            continue
        if os.path.isdir(real):
            shutil.rmtree(real)
            removed += 1
    print(f"wproj data clean: removed {removed} sink dir(s)")
    return 0


def _path_line_count(path: str) -> int:
    """Lines in a plain file OR a Spark text-output directory."""
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            return sum(
                chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b"")
            )
    return _sink_line_count(path)


def _sink_line_count(path: str) -> int:
    return sum(
        open(os.path.join(r, f), "rb").read().count(b"\n")
        for r, _d, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def cmd_data_validate(root: str, input_cnt: int | None) -> int:
    """wproj data validate (wp-cli-core utils/validate/core.rs
    validate_groups): per-GROUP checks with the reference's semantics —
    denominator by `basis` (group_input default | total_input |
    mdl:<name>, group.rs Basis), `min_samples` skip, per-sink
    ratio±tol and [min,max] gates, `others_max` on unexpected sinks,
    `sum_tol` on the configured ratios, and `mode` (warn default |
    error | panic) deciding whether a violation fails the run. Group
    ratio/tol/min/max keys (this engine's compatibility extension) act
    as the default sink expectation for sinks without their own.
    --input-cnt overrides total input (validate_groups total_override);
    it defaults to the enabled file sources' line totals."""
    from wp_motor_spark.config import load_workspace

    ws = load_workspace(root)
    if input_cnt is None:
        input_cnt = 0
        for s in ws.sources:
            if s.kind == "file" and s.enable and s.path and os.path.exists(s.path):
                input_cnt += _path_line_count(s.path)
    file_sinks = [sk for sk in ws.sinks if sk.kind == "file" and sk.path]
    lines = {
        sk.name: (_sink_line_count(sk.path) if os.path.isdir(sk.path) else 0)
        for sk in file_sinks
    }
    total_input = input_cnt or sum(lines.values())
    if not total_input:
        print("wproj data validate: no input lines (use --input-cnt)")
        return 2

    groups: dict[str, list] = {}
    for sk in file_sinks:
        groups.setdefault(sk.group or sk.name, []).append(sk)

    failed = 0

    def _violate(mode: str, msg: str) -> None:
        nonlocal failed
        sev = {"warn": "WARN", "error": "FAIL", "panic": "PANIC"}.get(mode, "WARN")
        if sev != "WARN":
            failed += 1
        print(msg + f" {sev}")

    for gname, members in groups.items():
        ge = next((m.group_expect for m in members if m.group_expect), None)
        if ge is None:
            for m in members:
                print(f"sink {m.name}: {lines[m.name]}/{total_input} "
                      f"ratio={lines[m.name] / total_input:.4f}")
            continue
        basis = str(ge.get("basis", "group_input"))
        group_sum = sum(lines[m.name] for m in members)
        denom = total_input if basis == "total_input" else group_sum
        if denom == 0:
            print(f"group {gname}: ignored (denominator is zero)")
            continue
        ms = ge.get("min_samples")
        if ms is not None and denom < int(ms):
            print(f"group {gname}: ignored (samples {denom} < min_samples {ms})")
            continue
        mode = str(ge.get("mode", "warn"))
        # compatibility: group-level ratio/tol/min/max default the sinks
        gdefault = {
            k: ge[k] for k in ("ratio", "tol", "min", "max") if k in ge
        } or None
        sum_r = 0.0
        others = 0
        for m in members:
            n = lines[m.name]
            r = n / denom
            se = m.expect or gdefault
            if not se:
                others += n
                print(f"sink {m.name}: {n}/{denom} ratio={r:.4f}")
                continue
            shown = f"sink {m.name}: {n}/{denom} ratio={r:.4f}"
            ok = True
            if se.get("ratio") is not None:
                want = float(se["ratio"])
                tol = float(se.get("tol", 0.0))
                sum_r += r
                shown += f" expect={want}±{tol}"
                if abs(r - want) > tol + 1e-12:
                    ok = False
            lo = float(se.get("min", float("-inf")))
            hi = float(se.get("max", float("inf")))
            if not (lo <= r <= hi):
                shown += f" range=[{se.get('min', 0.0)},{se.get('max', 1.0)}]"
                ok = False
            if ok:
                print(shown + " PASS")
            else:
                _violate(mode, shown)
        om = ge.get("others_max")
        if om is not None and others / denom > float(om) + 1e-12:
            _violate(mode, f"group {gname}: others ratio "
                           f"{others / denom:.4f} > max={om}")
        st = ge.get("sum_tol")
        if st is not None and abs(sum_r - 1.0) > float(st) + 1e-12:
            _violate(mode, f"group {gname}: sum(ratio)={sum_r:.4f} "
                           f"not within 1±{st}")
    print(f"wproj data validate: {failed} failure(s)")
    return 1 if failed else 0


def cmd_data_check(root: str) -> int:
    """wproj data check: source connectivity. File sources must exist and
    be readable; syslog/tcp listeners get a bind probe on their configured
    (addr, port) (a conflict means something else holds the port); kafka
    stays honestly unverified (no broker reachable from this tool)."""
    import socket

    from wp_motor_spark.config import load_workspace

    ws = load_workspace(root)
    bad = 0
    for s in ws.sources:
        if not s.enable:
            print(f"source {s.key} ({s.kind}): DISABLED")
            continue
        if s.kind == "file":
            if s.path and os.path.exists(s.path) and os.access(s.path, os.R_OK):
                print(f"source {s.key} (file): OK {s.path}")
            else:
                print(f"source {s.key} (file): MISSING {s.path}")
                bad += 1
        elif s.kind in ("syslog", "tcp"):
            addr = s.options.get("addr", "0.0.0.0")
            port = int(s.options.get("port", 514))
            proto = str(s.options.get("protocol", "udp")).lower()
            stype = socket.SOCK_DGRAM if proto == "udp" else socket.SOCK_STREAM
            try:
                with socket.socket(socket.AF_INET, stype) as sock:
                    sock.bind((addr, port))
                print(f"source {s.key} ({s.kind}/{proto}): OK bind {addr}:{port}")
            except OSError as e:
                print(
                    f"source {s.key} ({s.kind}/{proto}): BIND FAILED "
                    f"{addr}:{port} ({e})"
                )
                bad += 1
        else:
            print(f"source {s.key} ({s.kind}): UNVERIFIED (no broker probe)")
    print(f"wproj data check: {bad} failure(s)")
    return 1 if bad else 0


_KNOWDB_TOML = """version = 2

[[tables]]
name = "example"
columns.by_header = ["name", "pinying"]

[tables.expected_rows]
min = 1
"""

_KNOWDB_TOML_FULL = """version = 2
base_dir = "."

[default]
transaction = true
batch_size = 2000
on_error = "fail"

[csv]
has_header = true
delimiter = ","
encoding = "utf-8"
trim = true

[[tables]]
name = "example"
dir = "example"
enabled = true
columns.by_header = ["name", "pinying"]

[tables.expected_rows]
min = 1
max = 100
"""


def cmd_know_init(root: str, full: bool) -> int:
    """wproj know init (wp-cli-core knowdb::init): scaffold
    models/knowledge/ with knowdb.toml + the example table dir
    (create.sql / insert.sql / data.csv — the reference's exact layout;
    the SQL files document the native loader contract, the CSV is what
    the Spark KnowDB actually reads)."""
    kdir = os.path.join(root, "models", "knowledge")
    ex = os.path.join(kdir, "example")
    os.makedirs(ex, exist_ok=True)
    with open(os.path.join(kdir, "knowdb.toml"), "w") as fh:
        fh.write(_KNOWDB_TOML_FULL if full else _KNOWDB_TOML)
    with open(os.path.join(ex, "create.sql"), "w") as fh:
        fh.write(
            "CREATE TABLE IF NOT EXISTS {table} (\n  id      INTEGER PRIMARY KEY,\n"
            "  name    TEXT NOT NULL,\n  pinying TEXT NOT NULL\n);\n"
            "CREATE INDEX IF NOT EXISTS idx_{table}_name ON {table}(name);\n"
        )
    with open(os.path.join(ex, "insert.sql"), "w") as fh:
        fh.write("INSERT INTO {table} (name, pinying) VALUES (?1, ?2);\n")
    with open(os.path.join(ex, "data.csv"), "w") as fh:
        fh.write("name,pinying\nlinghu_chong,linghuchong\nren_yingying,renyingying\n")
    print(f"wproj know init: {kdir}")
    return 0


def cmd_know_check(root: str) -> int:
    """wproj know check (knowdb::check): per enabled table, verify
    create.sql / insert.sql / the data file exist and a column selection
    is declared; rc 1 when any table fails."""
    import tomllib

    conf_path = os.path.join(root, "models", "knowledge", "knowdb.toml")
    if not os.path.exists(conf_path):
        print(f"wproj know check: knowdb config not found: {conf_path}")
        return 1
    with open(conf_path, "rb") as fh:
        conf = tomllib.load(fh)
    if int(conf.get("version", 0)) != 2:
        print("wproj know check: knowdb.version must be 2")
        return 1
    base = os.path.join(os.path.dirname(conf_path), conf.get("base_dir", "."))
    ok = fail = 0
    for t in conf.get("tables", []):
        if not t.get("enabled", True):
            continue
        dir_name = t.get("dir", t["name"])
        tdir = os.path.join(base, dir_name)
        checks = {
            "create_ok": os.path.exists(os.path.join(tdir, "create.sql")),
            "insert_ok": os.path.exists(os.path.join(tdir, "insert.sql")),
            "data_ok": os.path.exists(
                os.path.join(tdir, t.get("data_file", "data.csv"))
            ),
            "columns_ok": bool(
                t.get("columns", {}).get("by_header")
                or t.get("columns", {}).get("by_index")
            ),
        }
        good = all(checks.values())
        ok += good
        fail += not good
        detail = " ".join(f"{k}={'Y' if v else 'N'}" for k, v in checks.items())
        print(f"table {dir_name}: {'OK' if good else 'FAIL'} ({detail})")
    print(f"wproj know check: {ok} ok, {fail} fail")
    return 1 if fail else 0


def cmd_know_clean(root: str) -> int:
    """wproj know clean (knowdb::clean): remove models/knowledge/ and the
    .run/authority.sqlite cache."""
    import shutil

    kdir = os.path.join(root, "models", "knowledge")
    removed = os.path.isdir(kdir)
    shutil.rmtree(kdir, ignore_errors=True)
    auth = os.path.join(root, ".run", "authority.sqlite")
    if os.path.exists(auth):
        os.remove(auth)
    print(f"wproj know clean: removed={removed}")
    return 0


def cmd_rule_parse(root: str, sample: str | None) -> int:
    """Offline parsing test (wproj rule parse): run every workspace rule
    over a sample file and print per-rule hit/miss counts."""
    import glob as g

    from wp_motor_spark.config import read_wpl_dir
    from wp_motor_spark.session import get_spark
    from wp_motor_spark.wpl import MultiParser

    wpl_dir = _model_dirs(root)[0]
    texts = read_wpl_dir(wpl_dir)
    if not texts:
        print("wproj rule parse: no wpl files", file=sys.stderr)
        return 2
    if sample is None:
        cands = sorted(
            g.glob(os.path.join(wpl_dir, "**", "sample.dat"), recursive=True)
        ) + sorted(g.glob(os.path.join(root, "data/*.dat")))
        if not cands:
            print("wproj rule parse: no sample data found", file=sys.stderr)
            return 2
        sample = cands[0]
    spark = get_spark(app_name="wproj_rule_parse")
    mp = MultiParser("\n".join(texts))
    labeled = mp.label(spark.read.text(sample))
    for row in (
        labeled.groupBy("_rule", "_disposition").count().orderBy("_rule").collect()
    ):
        print(f"{row['_rule'] or '<miss>'}  {row['_disposition']}  {row['count']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="wproj")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_init = sub.add_parser("init")
    p_init.add_argument("-w", "--work-root", default=".")
    p_init.add_argument("-m", "--mode", default="conf")

    p_check = sub.add_parser("check")
    p_check.add_argument("-w", "--work-root", default=".")
    p_check.add_argument("--what", default="all")
    p_check.add_argument("--json", action="store_true")
    p_check.add_argument("--only-fail", action="store_true")
    p_check.add_argument("--fail-fast", action="store_true")
    p_check.add_argument(
        "--console", action="store_true",
        help="console log output (02-wproj.md; check lines already print "
        "to stdout, so this is accepted for CLI parity)",
    )

    p_rule = sub.add_parser("rule")
    rsub = p_rule.add_subparsers(dest="rule_cmd", required=True)
    r_list = rsub.add_parser("list")
    r_list.add_argument("-w", "--work-root", default=".")
    r_parse = rsub.add_parser("parse")
    r_parse.add_argument("-w", "--work-root", default=".")
    r_parse.add_argument("--sample", default=None)

    p_data = sub.add_parser("data")
    dsub = p_data.add_subparsers(dest="data_cmd", required=True)
    for dc in ("stat", "clean", "check"):
        dp = dsub.add_parser(dc)
        dp.add_argument("-w", "--work-root", default=".")
    dv = dsub.add_parser("validate")
    dv.add_argument("-w", "--work-root", default=".")
    dv.add_argument("--input-cnt", type=int, default=None)

    p_know = sub.add_parser("know")
    ksub = p_know.add_subparsers(dest="know_cmd", required=True)
    k_init = ksub.add_parser("init")
    k_init.add_argument("-w", "--work-root", default=".")
    k_init.add_argument("--full", action="store_true")
    for kc in ("check", "clean"):
        kp = ksub.add_parser(kc)
        kp.add_argument("-w", "--work-root", default=".")

    args = ap.parse_args(argv)
    if args.cmd == "init":
        return cmd_init(args.work_root, args.mode)
    if args.cmd == "check":
        return cmd_check(
            args.work_root, args.what, args.json, args.only_fail, args.fail_fast
        )
    if args.cmd == "rule" and args.rule_cmd == "list":
        return cmd_rule_list(args.work_root)
    if args.cmd == "rule" and args.rule_cmd == "parse":
        return cmd_rule_parse(args.work_root, args.sample)
    if args.cmd == "data" and args.data_cmd == "stat":
        return cmd_data_stat(args.work_root)
    if args.cmd == "data" and args.data_cmd == "check":
        return cmd_data_check(args.work_root)
    if args.cmd == "data" and args.data_cmd == "validate":
        return cmd_data_validate(args.work_root, args.input_cnt)
    if args.cmd == "know" and args.know_cmd == "init":
        return cmd_know_init(args.work_root, args.full)
    if args.cmd == "know" and args.know_cmd == "check":
        return cmd_know_check(args.work_root)
    if args.cmd == "know" and args.know_cmd == "clean":
        return cmd_know_clean(args.work_root)
    if args.cmd == "data" and args.data_cmd == "clean":
        return cmd_data_clean(args.work_root)
    return 2


if __name__ == "__main__":
    sys.exit(main())
