"""Workspace config loader: the reference's TOML project layout -> Pipeline.

Reference layout (tests/instance/, loaded by src/orchestrator/config/
models.rs via WpApp::try_from — SURVEY.md §3.1 step 1):

    conf/wparse.toml          engine conf: model dirs, topology dirs,
                              parallel, speed_limit, stat windows
    wpl/**/*.wpl              parse rules (packages)
    oml/*.oml                 transform models
    topology/sources/*.toml   [[source_file]] / [[source_kafka]] /
                              [[source_syslog]] with enable + tags
    topology/sinks/*.toml     [sink_group] data sinks (v1: fmt/target/path)
    topology/sinks/infra.d/   default/miss/error/residue/monitor groups
                              (v2: use = file_raw_sink, params {base,file})

`load_workspace` parses all of it; `build_pipeline` assembles the runnable
Pipeline plus the enabled batch input paths.
"""

from __future__ import annotations

import glob
import os
import tomllib
from dataclasses import dataclass, field

from wp_motor_spark.sinks.spec import SinkSpec

# crates/wp-config/src/sinks/constants.rs INFRA_GROUPS — intercept was
# REMOVED from the infra set (orchestrator/constants/tests.rs:42
# "intercept removed"): a group named "intercept" is a business group now
_INFRA = {"default", "miss", "error", "residue", "monitor"}


@dataclass
class SourceSpec:
    key: str
    kind: str  # file | kafka | syslog
    path: str | None = None
    enable: bool = True
    tags: dict[str, str] = field(default_factory=dict)
    options: dict = field(default_factory=dict)


@dataclass
class Workspace:
    root: str
    conf: dict = field(default_factory=dict)
    wpl_texts: list[str] = field(default_factory=list)
    oml_texts: list[str] = field(default_factory=list)
    sources: list[SourceSpec] = field(default_factory=list)
    sinks: list[SinkSpec] = field(default_factory=list)
    # out_root given to load_workspace, if any — output paths (sinks,
    # rescue spool) are rebased here so runs never write into the workspace
    out_root: str | None = None

    @property
    def version(self) -> str:
        """Config schema version (engine.rs default_version: "1.0")."""
        return str(self.conf.get("version", "1.0"))

    @property
    def parallel(self) -> int:
        """[performance] parse_workers (engine.rs PerformanceConf, default
        2). The reference deserializes ONLY the [performance] table —
        top-level legacy `parallel`/`speed_limit` keys (still present in
        tests/instance/conf/wparse.toml) are unknown fields serde ignores,
        so we ignore them too."""
        return int(self.conf.get("performance", {}).get("parse_workers", 2))

    @property
    def robust(self) -> str:
        """Error-handling strategy (01-wparse.md: robust = debug|normal|
        strict; wp-error sys_robust_mode)."""
        return str(self.conf.get("robust", "normal"))

    @property
    def speed_limit(self) -> int:
        """[performance] rate_limit_rps (engine.rs, default 10000)."""
        return int(self.conf.get("performance", {}).get("rate_limit_rps", 10000))

    @property
    def skip_parse(self) -> bool:
        """Top-level skip_parse switch (engine.rs EngineConfig.skip_parse):
        don't run the parse/pick stage — sources are not read."""
        return bool(self.conf.get("skip_parse", False))

    @property
    def skip_sink(self) -> bool:
        """Top-level skip_sink switch (engine.rs EngineConfig.skip_sink):
        parse but don't start sink/infra delivery."""
        return bool(self.conf.get("skip_sink", False))

    @property
    def semantic_enabled(self) -> bool:
        """[semantic] enabled (engine.rs SemanticConf, default false):
        gates loading the semantic dictionary for the OML extract_* pipes."""
        return bool(self.conf.get("semantic", {}).get("enabled", False))

    @property
    def rescue_path(self) -> str:
        """[rescue] path (engine.rs RescueConf, default "./data/rescue"),
        resolved against the workspace root like conf_absolutize does."""
        p = str(self.conf.get("rescue", {}).get("path", "./data/rescue"))
        if os.path.isabs(p):
            return p
        return os.path.normpath(os.path.join(self.root, p))

    @property
    def stat_window_sec(self) -> int:
        return int(self.conf.get("stat", {}).get("window_sec", 60))

    @property
    def stat_specs(self) -> dict[str, list[dict]]:
        """[[stat.pick/parse/sink]] collector declarations (wparse.toml
        [stat] tables; wp-stats collector config): per-stage key/target
        glob/dimension fields/top_n, feeding operators.stats
        windowed_counts."""
        st = self.conf.get("stat", {})
        out: dict[str, list[dict]] = {}
        for stage in ("pick", "parse", "sink"):
            out[stage] = [
                {
                    "key": s.get("key", f"{stage}_stat"),
                    "target": s.get("target", "*"),
                    "fields": list(s.get("fields", [])),
                    "top_n": int(s.get("top_n", 20)),
                }
                for s in st.get(stage, [])
            ]
        return out


def _parse_tags(tags: list[str]) -> dict[str, str]:
    """Tag-list parse (sinks/runtime/manager.rs compile_tags, also the
    source-conf form): 'k: v' first, then 'k=v', and a bare token is a
    boolean flag -> "true". Later duplicates win."""
    out = {}
    for t in tags or []:
        for sep in (":", "="):
            if sep in t:
                k, _, v = t.partition(sep)
                if k.strip():
                    out[k.strip()] = v.strip()
                break
        else:
            if t.strip():
                out[t.strip()] = "true"
    return out


def _toml(path: str) -> dict:
    with open(path, "rb") as f:
        return tomllib.load(f)


def model_dirs(root: str, conf: dict) -> tuple[str, str]:
    """The (wpl, oml) model roots. engine.rs defaults are ./models/{wpl,oml};
    fall back to the bare ./wpl ./oml layout (the tests/instance tree) when
    the canonical default is absent and no explicit conf overrides it."""
    models = conf.get("models", {})

    def one(key: str) -> str:
        d = os.path.join(root, models.get(key, f"models/{key}"))
        if key not in models and not os.path.isdir(d):
            legacy = os.path.join(root, key)
            if os.path.isdir(legacy):
                return legacy
        return d

    return one("wpl"), one("oml")


def read_wpl_dir(wpl_dir: str) -> list[str]:
    """The rule set of a WPL directory: the text of every ``*.wpl`` under
    it, ``parse.wpl`` files first. A later file that redefines a rule key
    (a generator dual such as ``gen_rule.wpl`` beside its ``parse.wpl``)
    or that does not parse is skipped, so the texts joined hold each key
    once. The workspace loader, ``wparse --wpl DIR`` and ``wproj rule
    parse`` all read a rule directory through here."""
    from wp_motor_spark.wpl.parser import parse_wpl

    texts: list[str] = []
    seen_keys: set[str] = set()
    paths = sorted(
        glob.glob(os.path.join(wpl_dir, "**", "*.wpl"), recursive=True),
        key=lambda p: (0 if os.path.basename(p) == "parse.wpl" else 1, p),
    )
    for p in paths:
        text = open(p).read()
        try:
            keys = {r.key for r in parse_wpl(text)}
        except Exception:
            continue
        if keys & seen_keys:
            continue
        seen_keys |= keys
        texts.append(text)
    return texts


def load_workspace(root: str, out_root: str | None = None) -> Workspace:
    """Parse a reference-layout workspace. ``out_root``, when given,
    rebases every sink's relative output path (tests never write into the
    workspace). A missing ``root`` raises FileNotFoundError rather than
    loading as an empty workspace with no rules."""
    if not os.path.isdir(root):
        raise FileNotFoundError(f"workspace root not found: {root}")
    ws = Workspace(root=root, out_root=out_root)
    conf_path = os.path.join(root, "conf", "wparse.toml")
    if os.path.exists(conf_path):
        ws.conf = _toml(conf_path)

    wpl_dir, oml_dir = model_dirs(root, ws.conf)
    topo = ws.conf.get("topology", {})
    src_dir = os.path.join(root, topo.get("sources", "topology/sources"))
    sink_dir = os.path.join(root, topo.get("sinks", "topology/sinks"))

    ws.wpl_texts = read_wpl_dir(wpl_dir)

    for p in sorted(glob.glob(os.path.join(oml_dir, "*.oml"))):
        ws.oml_texts.append(open(p).read())

    # sources
    for p in sorted(glob.glob(os.path.join(src_dir, "*.toml"))):
        t = _toml(p)
        # v2 unified sources: [[sources]] connect = "<connector id>" +
        # params_override, resolved against connectors/source.d (upward
        # search from the workspace root; whitelist enforced)
        if t.get("sources"):
            from wp_motor_spark.connectors import SourceConfigParser

            for b in SourceConfigParser(root).parse_and_build(open(p).read()):
                path = b.path
                ws.sources.append(
                    SourceSpec(
                        key=b.name,
                        kind=b.kind,
                        path=os.path.join(root, path)
                        if path and not os.path.isabs(path)
                        else path,
                        enable=b.enable,
                        tags=_parse_tags(b.tags),
                        options={
                            k: v
                            for k, v in b.params.items()
                            if k not in ("path", "base", "file")
                        },
                    )
                )
        for kind in ("file", "kafka", "syslog"):
            for s in t.get(f"source_{kind}", []):
                ws.sources.append(
                    SourceSpec(
                        key=s.get("key", kind),
                        kind=kind,
                        path=os.path.join(root, s["path"]) if s.get("path") else None,
                        enable=bool(s.get("enable", True)),
                        tags=_parse_tags(s.get("tags", [])),
                        options={
                            k: v
                            for k, v in s.items()
                            if k not in ("key", "path", "enable", "tags")
                        },
                    )
                )

    # sinks: data groups + infra groups (both v1 and v2 spellings)
    def rebase(path: str) -> str:
        if out_root is not None:
            return os.path.join(out_root, os.path.basename(path))
        return os.path.join(root, path)

    from wp_motor_spark.connectors import ConnectorRegistry

    sink_registry = ConnectorRegistry.load(root, "sink")

    def _globs(v) -> list[str] | None:
        """`oml`/`rule` accept a string or an array (types.rs
        StringOrArray); None stays None (-> match-all default)."""
        if v is None:
            return None
        return [v] if isinstance(v, str) else list(v)

    def add_group(
        name: str, sinks: list[dict], condition: str | None, models: list[str] | None,
        group_expect: dict | None = None, rules: list[str] | None = None,
    ) -> None:
        for i, s in enumerate(sinks):
            kind = s.get("target", "file")
            options: dict = {}
            # per-sink filter file (03-sinks.md): a condition-expression
            # file; the record routes iff eval == filter_expect
            # (dispatcher/oml.rs:356). Reference default is TRUE
            # (sinks/types.rs:83 crate_default_true,
            # structure/sink/instance.rs:122) — deliver on match.
            filt_cond: str | None = None
            filt_expect = True
            fpath = s.get("filter")
            if fpath:
                cand = fpath if os.path.isabs(fpath) else os.path.join(root, fpath)
                if not os.path.exists(cand):  # doc: path relative to sink_root
                    cand = os.path.join(sink_dir, fpath)
                try:
                    filt_cond = open(cand).read().strip() or None
                except OSError:
                    filt_cond = None  # reference logs "not found filter", runs unfiltered
                filt_expect = bool(s.get("filter_expect", True))
            # v2: use/connect/connector = <sink connector id> + params
            # override. All three spellings appear in the reference: `use`
            # in the tests/instance tree, `connect` in the connector docs
            # (05-connectors/02-sinks/*.md), `connector` as the documented
            # compat alias (03-sinks.md).
            use = s.get("use") or s.get("connect") or s.get("connector")
            if use is not None:
                conn = (
                    sink_registry.connectors.get(use) if sink_registry else None
                )
                if conn is not None:
                    params = conn.resolve(s.get("params"))
                    kind = conn.type if conn.type != "file" else kind
                    fmt = params.get("fmt") or (
                        "raw" if "raw" in use else "json"
                    )
                else:  # no registry on disk: the documented name heuristic
                    params = s.get("params", {})
                    fmt = "raw" if "raw" in use else "json"
                path = rebase(
                    os.path.join(params.get("base", "out"), params.get("file", f"{name}.dat"))
                )
                # Non-file connector targets (victorialogs/kafka/tcp/syslog)
                # read endpoint/brokers/host/port/... from SinkSpec.options at
                # write time — pass every resolved param through except the
                # file-layout keys consumed above.
                options = {
                    k: v for k, v in params.items()
                    if k not in ("base", "file", "fmt")
                }
            else:  # v1: fmt/target/path
                path = rebase(s.get("path", f"out/{name}.dat"))
                fmt = s.get("fmt", "json")
                options = {
                    k: v for k, v in s.items()
                    if k not in (
                        "target", "path", "fmt", "condition", "expect", "oml",
                        "tags",
                    )
                }
            # per-sink name (unique in the group; fallback "[index]" per
            # 03-sinks.md). Single-sink groups keep the GROUP name so infra
            # channel matching (miss/error/residue/...) stays by group.
            sink_name = name if len(sinks) == 1 else s.get("name") or f"{name}[{i}]"
            cond = filt_cond or condition or s.get("condition")
            ws.sinks.append(
                SinkSpec(
                    tags=_parse_tags(s.get("tags", [])),
                    name=sink_name,
                    kind=kind,
                    path=path,
                    format=fmt,
                    condition=cond,
                    filter_expect=filt_expect if filt_cond else True,
                    models=list(models) if models is not None else ["*"],
                    rules=list(rules) if rules is not None else ["*"],
                    options=options,
                    # SINK-level override only (expect.rs ratio/tol/min/max);
                    # the group spec travels separately
                    expect=s.get("expect"),
                    group=name,
                    group_expect=group_expect,
                )
            )

    # group-level default expectations (sinks/io.rs load_sink_defaults:
    # <sink_root>/defaults.toml [defaults.expect])
    defaults_expect: dict | None = None
    defaults_path = os.path.join(sink_dir, "defaults.toml")
    if os.path.exists(defaults_path):
        defaults_expect = _toml(defaults_path).get("defaults", {}).get("expect")

    # route discovery (sinks/io.rs load_route_files_from): business.d/ and
    # infra.d/ are collected RECURSIVELY (**/*.toml, subdirs supported);
    # top-level *.toml is the tests/instance legacy layout
    route_paths = (
        sorted(glob.glob(os.path.join(sink_dir, "*.toml")))
        + sorted(glob.glob(os.path.join(sink_dir, "business.d", "**", "*.toml"),
                           recursive=True))
        + sorted(glob.glob(os.path.join(sink_dir, "infra.d", "**", "*.toml"),
                           recursive=True))
    )
    seen_routes: set[str] = set()
    for p in route_paths:
        rp = os.path.realpath(p)
        if rp in seen_routes or os.path.basename(p) == "defaults.toml":
            continue
        seen_routes.add(rp)
        is_infra = f"{os.sep}infra.d{os.sep}" in p
        t = _toml(p)
        if "sink_group" in t:
            g = t["sink_group"]
            gname = g.get("name", "data")
            if is_infra and g.get("parallel") is not None:
                # build.rs:425: infra groups reject [sink_group].parallel
                raise ValueError(
                    f"infra group '{gname}' does not support "
                    "[sink_group].parallel; remove this field and use "
                    "business.d parallel for throughput"
                )
            add_group(
                gname, g.get("sinks", []), g.get("condition"),
                _globs(g.get("oml")), g.get("expect") or defaults_expect,
                _globs(g.get("rule")),
            )
        else:  # framework.toml: one section per infra group
            for name, g in t.items():
                if isinstance(g, dict) and "sinks" in g:
                    add_group(
                        g.get("name", name), g["sinks"], g.get("condition"),
                        _globs(g.get("oml")), g.get("expect") or defaults_expect,
                        _globs(g.get("rule")),
                    )

    # dedupe by (group, path): framework.toml and infra.d describe the same
    # channels in the two config generations
    seen: set[tuple] = set()
    uniq = []
    for s in ws.sinks:
        k = (s.name,)
        if k in seen:
            continue
        seen.add(k)
        uniq.append(s)
    ws.sinks = uniq
    return ws


def build_pipeline(ws: Workspace, knowdb=None):
    """Workspace -> (Pipeline, enabled batch input paths).

    skip_parse (engine.rs stage switch) empties the input list — no
    sources are read. skip_sink hands the Pipeline an empty sink set —
    the parse stage runs, delivery doesn't. The rescue spool is always
    configured (the reference's RescueConf has a default path), rebased
    under out_root when the workspace was loaded with one.
    """
    from wp_motor_spark.oml.semantic import set_semantic_enabled
    from wp_motor_spark.pipeline import Pipeline

    # startup flip of the global semantic switch, like service.rs:50
    set_semantic_enabled(ws.semantic_enabled)

    tags: dict[str, str] = {}
    inputs: list[str] = []
    keys: list[str] = []
    for s in ws.sources:
        if not s.enable:
            continue
        tags.update(s.tags)
        keys.append(s.key)
        if s.kind == "file" and s.path:
            inputs.append(s.path)
    if ws.skip_parse:
        inputs = []
    rescue_dir = (
        os.path.join(ws.out_root, "rescue") if ws.out_root else ws.rescue_path
    )
    pipe = Pipeline(
        wpl="\n".join(ws.wpl_texts),
        omls=ws.oml_texts,
        sinks=[] if ws.skip_sink else ws.sinks,
        knowdb=knowdb,
        tags=tags,
        # wp_src_key is well-defined when ONE source feeds the pipeline
        src_key=keys[0] if len(keys) == 1 else None,
        robust=ws.robust,
        rescue_dir=rescue_dir,
    )
    return pipe, inputs


def read_workspace_lines(spark, ws: Workspace):
    """Read every enabled file source as raw lines, applying the
    source-level ``encode`` option (02-file_source.md: text | base64 |
    hex — the whole LINE is decoded before parsing; WPL's decode/*
    preprocessors are the per-field cousins). ``instances`` is accepted
    and inert: Spark already range-splits file scans into parallel
    partitions. Returns one unioned DataFrame[value]."""
    from pyspark.sql import functions as F

    parts = []
    for s in ws.sources:
        if not s.enable or s.kind != "file" or not s.path:
            continue
        df = spark.read.text(s.path)
        enc = str(s.options.get("encode", "text"))
        if enc == "base64":
            df = df.select(
                F.unbase64(F.regexp_replace("value", r"\s+", ""))
                .cast("string")
                .alias("value")
            )
        elif enc == "hex":
            df = df.select(
                F.unhex(F.regexp_replace("value", r"\s+", ""))
                .cast("string")
                .alias("value")
            )
        elif enc != "text":
            raise ValueError(f"unknown source encode {enc!r}")
        parts.append(df)
    if not parts:
        return spark.createDataFrame([], "value string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
