"""CLI entries mirroring the reference's binaries (SURVEY.md §3):
wparse batch/daemon, wpgen, wprescue.

Usage (python -m wp_motor_spark.cli ...):
    wparse  --wpl parse.wpl --oml model.oml --input data/ \
            --sink out=./out/data:json --sink miss=./out/miss:raw
    daemon  ... same flags + --checkpoint ./ckpt (file stream source)
    wpgen   --wpl parse.wpl -n 1000 --out ./gen
    wprescue --wpl parse.wpl --oml model.oml --from ./out/miss --sink ...

wprescue (docs/usage/en/01-cli/05-wprescue.md) is the batch re-run of
failed raw data: point the same pipeline at the miss/error output dir.
"""

from __future__ import annotations

import argparse
import os
import sys

from wp_motor_spark.session import get_spark

# wpgen --sample materializes the sample file on the driver (it becomes a
# broadcast side); refuse files past this many lines instead of an unbounded
# collect() on a user-supplied path
SAMPLE_LINE_CAP = 100_000


def _clap_bool(v: str) -> bool:
    """clap's bool value parser: `--local <bool>` takes exactly one value
    and accepts only 'true'/'false' (facade/args.rs:45-47 DataArgs.local,
    default true). The previous nargs='?' form greedily bound the next
    positional token as a truthy value — a silent behavior change; clap
    errors on a non-bool token, so we do too."""
    if v == "true":
        return True
    if v == "false":
        return False
    raise argparse.ArgumentTypeError(
        f"invalid value {v!r} for '--local <BOOL>': expected true/false"
    )


def _build_pipeline(args):
    import glob
    import os

    from wp_motor_spark.config import read_wpl_dir
    from wp_motor_spark.pipeline import Pipeline
    from wp_motor_spark.sinks import SinkSpec

    # --wpl accepts a rule FILE or a rules DIRECTORY (03-wparse.md: the
    # flag is documented as "WPL rules directory override")
    if os.path.isdir(args.wpl):
        wpl = "\n".join(read_wpl_dir(args.wpl))
    else:
        wpl = open(args.wpl).read()
    omls: list[str] = []
    for o in args.oml or []:
        if os.path.isdir(o):  # directory: every model under it
            omls += [
                open(p).read()
                for p in sorted(
                    glob.glob(os.path.join(o, "**", "*.oml"), recursive=True)
                )
            ]
        else:
            omls.append(open(o).read())
    sinks = []
    for s in args.sink or []:
        name, _, rest = s.partition("=")
        path, _, fmt = rest.rpartition(":")
        sinks.append(SinkSpec(name=name, kind="file", path=path or rest, format=fmt or "json"))
    knowdb = None
    if args.knowdb:
        from wp_motor_spark.knowdb import KnowDB

        knowdb = KnowDB(get_spark()).load_csv_dir(args.knowdb)
    return Pipeline(
        wpl=wpl,
        omls=omls,
        sinks=sinks or None,  # no --sink flags -> the default memory sink
        knowdb=knowdb,
        rescue_dir=getattr(args, "rescue_dir", None),
    )


def _wpgen_subcommand(spark, args) -> int:
    """Reference subcommand forms (01-cli/04-wpgen.md): `wpgen rule|sample`
    run config mode with the generator mode forced; `wpgen conf
    init|check|clean` and `wpgen data clean` manage conf/wpgen.toml."""
    import os
    import tomllib

    conf_path = os.path.join(args.work_root, "conf", args.conf)

    if args.action == "conf":
        sub = args.subaction or "init"
        if sub == "init":
            os.makedirs(os.path.dirname(conf_path), exist_ok=True)
            if not os.path.exists(conf_path):
                with open(conf_path, "w") as fh:
                    fh.write(
                        'version = "1.0"\n\n[generator]\nmode = "rule"\n'
                        "count = 1000\nspeed = 1000\nparallel = 2\n"
                        'rule_root = "./models/wpl"\n\n[output]\n'
                        'connect = "file_raw_sink"\n'
                        'params = { base = "./data/in_dat", file = "gen.dat" }\n'
                    )
            print(f"wpgen: conf init -> {conf_path}")
            return 0
        if sub == "check":
            try:
                with open(conf_path, "rb") as fh:
                    doc = tomllib.load(fh)
            except (OSError, tomllib.TOMLDecodeError) as e:
                print(f"wpgen: conf check FAILED: {e}", file=sys.stderr)
                return 1
            if "generator" not in doc and "main_conf" not in doc:
                print(
                    "wpgen: conf check FAILED: neither [generator] nor "
                    "[main_conf]",
                    file=sys.stderr,
                )
                return 1
            print(f"wpgen: conf check OK: {conf_path}")
            return 0
        if sub == "clean":
            if os.path.exists(conf_path):
                os.remove(conf_path)
            print(f"wpgen: conf clean -> removed {conf_path}")
            return 0
        print(f"wpgen: unknown conf subcommand {sub!r}", file=sys.stderr)
        return 2

    if args.action == "data":
        if args.subaction != "clean":
            print("wpgen: data supports only `clean`", file=sys.stderr)
            return 2
        import shutil

        try:
            with open(conf_path, "rb") as fh:
                doc = tomllib.load(fh)
        except OSError as e:
            print(f"wpgen: data clean: {e}", file=sys.stderr)
            return 1
        out = doc.get("output", {})
        params = out.get("params") or out.get("params_override") or {}
        base = params.get("base", "./data/in_dat")
        target = base if os.path.isabs(base) else os.path.join(args.work_root, base)
        if os.path.isdir(target):
            shutil.rmtree(target)
            print(f"wpgen: data clean -> removed {target}")
        else:
            print(f"wpgen: data clean -> nothing at {target}")
        return 0

    # rule | sample: config mode with the generator mode forced
    if not os.path.exists(conf_path):
        print(f"wpgen: no config at {conf_path}", file=sys.stderr)
        return 2
    args.config = conf_path
    args.force_mode = args.action
    return _wpgen_from_config(spark, args)


def _wpgen_from_config(spark, args) -> int:
    """Config-driven wpgen (tests/wpgen_rule_exec.rs; conf/wpgen.toml):
    v2 `[generator]` (mode/count) + `[output] connect = "<sink id>"`
    resolved against connectors/sink.d (upward search from the config
    dir), or v1 `[main_conf]` gen_count + out_ref -> `[<out_ref>]`
    section with a file target. Rules load from --wpl (a gen_rule.wpl
    file or a directory holding one, with gen_field.toml alongside)."""
    import glob
    import os
    import tomllib

    from wp_motor_spark.connectors import ConnectorRegistry
    from wp_motor_spark.wpl.generator import (
        generate_lines,
        load_gen_field_overrides,
    )

    with open(args.config, "rb") as fh:
        doc = tomllib.load(fh)
    conf_dir = os.path.dirname(os.path.abspath(args.config))

    if "generator" in doc:  # v2
        gen = doc["generator"]
        # CLI overrides (04-wpgen.md subcommand table): forced mode from
        # `wpgen rule|sample`, -s speed, -n count
        if getattr(args, "force_mode", None):
            gen["mode"] = args.force_mode
        if getattr(args, "speed", None):
            gen["speed"] = args.speed
        # count | duration_secs are alternatives (04-wpgen.md); with a
        # duration the speed model integrates to the batch row total —
        # pacing a batch engine by sleeping would just waste the cluster
        if getattr(args, "cli_n", None) is not None:
            count = int(args.cli_n)
        elif gen.get("count") is not None:
            count = int(gen["count"])
        elif gen.get("duration_secs") is not None:
            from wp_motor_spark.wpl.speed_profile import (
                SpeedController,
                profile_from_generator_conf,
            )

            prof = profile_from_generator_conf(gen)
            if prof is None:  # no pacing configured: default-rate plan
                prof = {"type": "constant", "rate": 1000}
            count = SpeedController(prof, seed=args.seed).planned_rows(
                float(gen["duration_secs"])
            )
        else:
            count = args.n
        connect = doc.get("output", {}).get("connect")
        if not connect:
            print("wpgen: [output] connect missing", file=sys.stderr)
            return 2
        registry = ConnectorRegistry.load(conf_dir, "sink")
        if registry is None:
            print("wpgen: connector not found (no connectors/sink.d)", file=sys.stderr)
            return 2
        try:
            conn = registry.get(connect)
        except KeyError as e:
            print(f"wpgen: {e.args[0]}", file=sys.stderr)
            return 2
        # canonical key is `params` (wpgen.rs OutputConf.params);
        # params_override tolerated as the older spelling
        out_conf = doc.get("output", {})
        params = conn.resolve(
            out_conf.get("params") or out_conf.get("params_override")
        )
        out_path = params.get("path") or os.path.join(
            params.get("base", "out"), params.get("file", "gen.dat")
        )
        if not os.path.isabs(out_path):
            # reference layout (conf/wpgen.toml): output paths are
            # WORKSPACE-relative ("Generated files are typically located
            # in ./data/in_dat/", 04-wpgen.md); a standalone config not
            # living in a conf/ dir resolves next to itself
            base_dir = (
                os.path.dirname(conf_dir)
                if os.path.basename(conf_dir) == "conf"
                else conf_dir
            )
            out_path = os.path.normpath(os.path.join(base_dir, out_path))
    elif "main_conf" in doc:  # v1 (conf/wpgen.toml)
        mc = doc["main_conf"]
        count = int(mc.get("gen_count", args.n))
        out = doc.get(mc.get("out_ref", "out_file"), {})
        out_path = out.get("target", {}).get("file", {}).get("path", "gen_out")
        if not os.path.isabs(out_path):
            # v1 paths are workspace-relative (conf/ is one level down)
            out_path = os.path.normpath(os.path.join(conf_dir, "..", out_path))
    else:
        print("wpgen: config has neither [generator] nor [main_conf]", file=sys.stderr)
        return 2

    gen = doc.get("generator", {})
    # rule_root ([generator], workspace-relative like v1 paths) backs up
    # the --wpl flag; sample mode replicates sample_pattern-matched files
    rule_path = args.wpl
    if not rule_path and gen.get("rule_root"):
        rr = gen["rule_root"]
        rule_path = rr if os.path.isabs(rr) else os.path.normpath(
            os.path.join(conf_dir, "..", rr)
        )
    if str(gen.get("mode", "rule")) == "sample":
        # sample.rs load_samples: every file under rule_root matching
        # sample_pattern, all lines concatenated as the sample pool
        pattern = gen.get("sample_pattern", "*.txt")
        base = rule_path or os.path.normpath(os.path.join(conf_dir, ".."))
        files = sorted(
            glob.glob(os.path.join(base, "**", pattern), recursive=True)
        )
        lines: list[str] = []
        for f in files:
            lines.extend(open(f).read().splitlines())
            if len(lines) > SAMPLE_LINE_CAP:
                print(
                    f"wpgen: sample pool exceeds {SAMPLE_LINE_CAP} lines",
                    file=sys.stderr,
                )
                return 2
        if not lines:
            print(
                f"wpgen: no {pattern} sample lines under {base}",
                file=sys.stderr,
            )
            return 2
        from pyspark.sql import functions as F

        sample_df = spark.createDataFrame(
            list(enumerate(lines)), ["__i", "value"]
        )
        out = (
            spark.range(count)
            .withColumn("__i", (F.col("id") % len(lines)).cast("bigint"))
            .join(F.broadcast(sample_df), "__i")
            .select("value")
        )
        out.write.mode("overwrite").text(out_path)
        print(f"wpgen: {count} lines from samples -> {out_path}")
        if getattr(args, "print_stat", False):
            print(
                f"stat[gen]: {count} lines total (interval "
                f"{getattr(args, 'stat_sec', 1)}s collapses to one "
                "batch summary)"
            )
        return 0
    if not rule_path:
        print(
            "wpgen: --config rule mode needs --wpl or [generator] rule_root",
            file=sys.stderr,
        )
        return 2
    if os.path.isdir(rule_path):
        rule_path = os.path.join(rule_path, "gen_rule.wpl")
    rule = open(rule_path).read()
    overrides = None
    gf = os.path.join(os.path.dirname(os.path.abspath(rule_path)), "gen_field.toml")
    if os.path.exists(gf):
        overrides = load_gen_field_overrides(open(gf).read())
    generate_lines(
        spark, rule, count, overrides=overrides, seed=args.seed
    ).write.mode("overwrite").text(out_path)
    print(f"wpgen: {count} lines -> {out_path}")
    if getattr(args, "print_stat", False):
        print(f"stat[gen]: {count} lines total (interval {getattr(args, 'stat_sec', 1)}s collapses to one batch summary)")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="wp-motor-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    # reference subcommand spellings (facade/args.rs: `wparse batch`,
    # `wparse engine`): normalize to our flat command names before parse
    if argv is None:
        argv = sys.argv[1:]
    argv = list(argv)
    if argv[:2] in (["wparse", "batch"], ["wparse", "engine"]):
        argv = ["wparse"] + argv[2:]
    elif argv[:2] == ["wparse", "daemon"]:
        argv = ["daemon"] + argv[2:]
    elif argv and argv[0] in ("batch", "engine"):
        argv = ["wparse"] + argv[1:]

    for cmd in ("wparse", "daemon", "wprescue"):
        p = sub.add_parser(cmd)
        p.add_argument("--wpl")
        p.add_argument("--oml", action="append")
        p.add_argument(
            "--work-root",
            help="workspace root (facade/args.rs work_root + 01-cli "
            "README: the reference's primary invocation loads "
            "wpl/oml/sinks/sources from the workspace instead of "
            "explicit --wpl/--oml flags)",
        )
        p.add_argument("--sink", action="append", help="name=path:format")
        p.add_argument("--knowdb", help="CSV dimension dir")
        p.add_argument("--rescue-dir", help="failed-write spool dir (rescue.rs)")
        p.add_argument(
            "-n", "--line-max", "--max-line", type=int, default=None,
            help="max input lines to process (RunArgs line_max; the "
            "reference spells it --max-line)",
        )
        p.add_argument(
            "--robust",
            choices=[
                "debug", "normal", "strict",
                "develop", "alpha", "beta", "online", "crucial",
            ],
            default=None,
            help="robustness override (args.rs --robust / env "
            "WP_PARSE_ROBUST). The engine has three modes "
            "(RobustnessMode Debug/Normal/Strict, strategies/mod.rs); "
            "the release-stage spellings map onto them",
        )
        p.add_argument(
            "--log-profile",
            choices=["dev", "int", "prod"],
            default=None,
            help="log preset (args.rs --log-profile): dev/int/prod -> "
            "Spark log level INFO/WARN/ERROR",
        )
        p.add_argument(
            "-p", "--print-stat", "--stat-print", action="store_true",
            help="print per-rule/disposition parse stats after the run",
        )
        p.add_argument(
            "-w", "--parse-workers", type=int, default=None,
            help="parallelism (reference parse_workers thread count -> "
            "local[N] cores / shuffle partitions here)",
        )
        p.add_argument(
            "--stat", dest="stat_sec", type=int, default=None,
            help="daemon: stats print interval in seconds (batch mode "
            "prints once at end with -p)",
        )
        if cmd == "wprescue":
            # --from re-parses raw miss/error lines; --rescue-dir replays
            # already-formatted RescueEntry spools (05-wprescue.md)
            p.add_argument("--from", dest="input")
            p.add_argument(
                "--speed-limit", type=int, default=0,
                help="replay rate cap in lines/sec (wparse.toml [rescue] "
                "speed_limit; 0 = unlimited)",
            )
        else:
            p.add_argument(
                "--input",
                help="raw-lines path (optional with --work-root: the "
                "workspace's enabled file sources are read instead)",
            )
        if cmd == "daemon":
            p.add_argument("--checkpoint", required=True)
            p.add_argument("--trigger-seconds", type=int, default=None)

    g = sub.add_parser("wpgen")
    g.add_argument(
        "action", nargs="?", default=None,
        choices=["rule", "sample", "conf", "data"],
        help="reference subcommand form (01-cli/04-wpgen.md): rule|sample "
        "run config mode with the generator mode forced; conf init/check "
        "and data clean manage conf/wpgen.toml",
    )
    g.add_argument(
        "subaction", nargs="?", default=None,
        help="conf: init|check|clean; data: clean",
    )
    g.add_argument("-w", "--work-root", default=".")
    g.add_argument(
        "-c", "--conf", "--conf-name", default="wpgen.toml",
        help="config filename under <work-root>/conf (subcommand form; "
        "--conf-name is the 01-cli README spelling)",
    )
    g.add_argument(
        "-s", "--speed", "--gen-speed", type=int, default=None,
        help="generation speed override (lines/sec; with duration_secs "
        "it scales the planned row count)",
    )
    g.add_argument("--wpl", help="rule mode: generate lines matching the rule")
    g.add_argument("--sample", help="sample mode: replicate sample-file lines")
    g.add_argument(
        "--config",
        help="config mode: wpgen.toml ([generator]/[output] v2 with a "
        "connector-resolved sink, or [main_conf]/out_ref v1); rule files "
        "come from --wpl (a gen_rule.wpl or its directory)",
    )
    g.add_argument(
        "-n", "--line-cnt", dest="n", type=int, default=None,
        help="line count (--line-cnt is the 01-cli README spelling)",
    )
    g.add_argument("--out", help="output dir (rule/sample modes)")
    g.add_argument("--seed", type=int, default=0)
    # 04-wpgen.md common parameters: -p/--print_stat periodic stats and
    # --stat <sec> interval (a batch generator prints one end-of-run
    # summary). --local mirrors the reference's DataArgs.local
    # (facade/args.rs:45-47): clap parses `--local <bool>` with default
    # true, and NO reference code ever reads the field — it is an inert
    # CLI-compat flag there, so it is (documentedly) inert here too;
    # we accept the clap value spelling plus a --no-local convenience.
    g.add_argument(
        "-p", "--print_stat", "--print-stat", action="store_true",
        dest="print_stat",
    )
    g.add_argument("--stat", dest="stat_sec", type=int, default=1)
    g.add_argument(
        "--local", default=True, type=_clap_bool, metavar="BOOL",
        help="inert CLI-compat flag; requires an explicit true/false "
        "value exactly like clap's `--local <bool>`",
    )
    g.add_argument("--no-local", dest="local", action="store_false")

    args = ap.parse_args(argv)
    if args.cmd == "wpgen":
        # -n: remember whether it was explicit (overrides config count in
        # subcommand form), then default the effective value
        args.cli_n = args.n
        if args.n is None:
            args.n = 1000
    workers = getattr(args, "parse_workers", None)
    spark = get_spark(
        app_name=f"wp_motor_spark_{args.cmd}",
        master=f"local[{workers}]" if workers else None,
        shuffle_partitions=workers,
    )

    if args.cmd == "wpgen":
        if args.action:
            return _wpgen_subcommand(spark, args)
        if args.config:
            return _wpgen_from_config(spark, args)
        if not args.out:
            print("wpgen: --out required outside --config mode", file=sys.stderr)
            return 2
        if args.sample:
            # sample mode (04-wpgen.md): replicate sample-file lines to
            # volume, deterministic round-robin — distributed via a range
            # join against the broadcast sample (no driver loop)
            from pyspark.sql import functions as F

            # the sample is replicated via a broadcast join, so it must be
            # genuinely small; cap the driver materialization rather than
            # collect() an arbitrary user-supplied file
            cap = SAMPLE_LINE_CAP
            lines = [
                r[0] for r in spark.read.text(args.sample).limit(cap + 1).collect()
            ]
            if not lines:
                print("wpgen: empty sample", file=sys.stderr)
                return 2
            if len(lines) > cap:
                print(
                    f"wpgen: sample exceeds {cap} lines; sample mode replicates "
                    "a small file to volume — use rule mode (--wpl) for large "
                    "inputs",
                    file=sys.stderr,
                )
                return 2
            sample_df = spark.createDataFrame(
                list(enumerate(lines)), ["__i", "value"]
            )
            out = (
                spark.range(args.n)
                .withColumn("__i", (F.col("id") % len(lines)).cast("bigint"))
                .join(F.broadcast(sample_df), "__i")
                .select("value")
            )
            out.write.mode("overwrite").text(args.out)
            print(f"wpgen: {args.n} lines from sample -> {args.out}")
            if getattr(args, "print_stat", False):
                print(f"stat[gen]: {args.n} lines total (interval {getattr(args, 'stat_sec', 1)}s collapses to one batch summary)")
            return 0
        if not args.wpl:
            print("wpgen: need --wpl or --sample", file=sys.stderr)
            return 2

        from wp_motor_spark.wpl.generator import (
            generate_lines,
            load_gen_field_overrides,
        )

        rule = open(args.wpl).read()
        # per-field scopes: a gen_field.toml next to the rule file is loaded
        # automatically (the reference's load_gen_confs rule_root layout)
        overrides = None
        gf = os.path.join(os.path.dirname(os.path.abspath(args.wpl)), "gen_field.toml")
        if os.path.exists(gf):
            overrides = load_gen_field_overrides(open(gf).read())
        generate_lines(
            spark, rule, args.n, overrides=overrides, seed=args.seed
        ).write.mode("overwrite").text(args.out)
        print(f"wpgen: {args.n} lines -> {args.out}")
        if getattr(args, "print_stat", False):
            print(f"stat[gen]: {args.n} lines total (interval {getattr(args, 'stat_sec', 1)}s collapses to one batch summary)")
        return 0

    # --log-profile (args.rs): dev/int/prod -> Spark driver log level
    if getattr(args, "log_profile", None):
        spark.sparkContext.setLogLevel(
            {"dev": "INFO", "int": "WARN", "prod": "ERROR"}[args.log_profile]
        )

    ws = None
    if getattr(args, "work_root", None) and not args.wpl:
        # workspace mode (the reference's primary `wparse batch|daemon
        # --work-root <ws>` form): wpl/oml/sinks/sources all come from
        # the workspace tree, like orchestrator/config does
        from wp_motor_spark.config import build_pipeline, load_workspace
        from wp_motor_spark.knowdb import KnowDB

        ws = load_workspace(args.work_root)
        knowdb = None
        kdir = os.path.join(args.work_root, "knowdb")
        if args.knowdb or os.path.isdir(kdir):
            knowdb = KnowDB(spark).load_csv_dir(args.knowdb or kdir)
        pipe, _inputs = build_pipeline(ws, knowdb=knowdb)
        if getattr(args, "rescue_dir", None):
            # CLI wins over conf (args.rs completion_from): an explicit
            # --rescue-dir overrides the workspace's [rescue] spool, so
            # wprescue replays the directory the user pointed at
            pipe.rescue_dir = args.rescue_dir
    elif not args.wpl:
        print(f"{args.cmd}: need --wpl or --work-root", file=sys.stderr)
        return 2
    else:
        pipe = _build_pipeline(args)

    # --robust / WP_PARSE_ROBUST override (args.rs completion_from:
    # CLI wins over conf; env is the documented global fallback).
    # RobustnessMode has exactly three variants (strategies/mod.rs
    # matches Debug/Normal/Strict exhaustively); the release-stage CLI
    # spellings bucket onto them by maturity — develop->debug (the
    # ERR_STRATEGY_DEV anchor), alpha/beta->normal (ERR_STRATEGY_BETA
    # anchor is beta), online/crucial->strict (ERR_STRATEGY_STOIC).
    robust = getattr(args, "robust", None) or os.environ.get("WP_PARSE_ROBUST")
    if robust:
        pipe.robust = {
            "develop": "debug", "alpha": "normal", "beta": "normal",
            "online": "strict", "crucial": "strict",
        }.get(robust, robust)

    if args.cmd == "daemon":
        from wp_motor_spark.pipeline import stream_lines

        src = args.input
        if src is None and ws is not None:
            # workspace daemon: stream the first enabled file source's
            # path (directory spool, like the reference's file source)
            paths = [
                x.path for x in ws.sources
                if x.enable and x.kind == "file" and x.path
            ]
            if not paths:
                print("daemon: workspace has no enabled file source",
                      file=sys.stderr)
                return 2
            src = paths[0]
        stream = stream_lines(spark, src)
        q = pipe.run_stream(
            stream, checkpoint=args.checkpoint, trigger_seconds=args.trigger_seconds
        )
        if args.stat_sec and args.print_stat:
            # --stat N -p: periodic progress print (reference stat_sec)
            import threading

            def _stat_loop() -> None:
                while q.isActive:
                    p = q.lastProgress
                    if p:
                        print(
                            f"stat: batch={p.get('batchId')} "
                            f"rows={p.get('numInputRows')} "
                            f"rps={p.get('processedRowsPerSecond')}",
                            flush=True,
                        )
                    q.awaitTermination(args.stat_sec)

            threading.Thread(target=_stat_loop, daemon=True).start()
        q.awaitTermination()
        return 0

    if args.cmd == "wprescue" and args.input is None:
        if not args.rescue_dir:
            print("wprescue: need --from or --rescue-dir", file=sys.stderr)
            return 2
        counts = pipe.replay_rescue(spark, speed_limit=args.speed_limit)
        for name, n in counts.items():
            print(f"wprescue: replayed {n} lines -> sink {name}")
        return 0

    if args.input:
        raw = spark.read.text(args.input)
    elif ws is not None:
        # workspace mode: union every enabled file source, applying
        # source-level encode (02-file_source.md) like the engine does
        from wp_motor_spark.config import read_workspace_lines

        raw = read_workspace_lines(spark, ws)
    else:
        print(f"{args.cmd}: need --input (or --work-root)", file=sys.stderr)
        return 2
    if args.line_max:
        raw = raw.limit(args.line_max)
    counts = pipe.write_batch(raw)
    for name, n in counts.items():
        print(f"{args.cmd}: sink {name}: {n} lines")
    if args.print_stat:
        # the reference's --print_stat periodic counters, as the batch-end
        # aggregate: one labeled scan -> (stage, rule, disposition, total)
        for r in pipe.monitor(raw).collect():
            print(
                f"stat[{r['stage']}] {r['rule']} {r['disposition']}: {r['total']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
