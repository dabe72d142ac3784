"""v2 unified connector/source config tests — one per reference case in
tests/sources_unified_config.rs, plus the instance-tree sink registry
resolution and a workspace e2e with a v2 source."""

import os

import pytest

from conftest import REF, needs_reference
from wp_motor_spark.connectors import (
    ConnectorNotFound,
    ConnectorRegistry,
    OverrideNotAllowed,
    SourceConfigParser,
)

FILE_CONNECTOR = """
[[connectors]]
id = "file_main"
type = "file"
allow_override = ["path","encode"]
[connectors.params]
path = "{path}"
encode = "text"
"""

V2_SOURCES = """
[[sources]]
key = "file_unified"
enable = true
connect = "file_main"
params_override = { }
"""


def _write_connector(work, content):
    cdir = work / "connectors" / "source.d"
    cdir.mkdir(parents=True, exist_ok=True)
    (cdir / "c1.toml").write_text(content)


def test_build_file_source(tmp_path):
    """sources_unified_config.rs::test_unified_sources_config_build_file_source"""
    data = tmp_path / "in.log"
    data.write_text("hello\n")
    work = tmp_path / "work"
    work.mkdir()
    _write_connector(work, FILE_CONNECTOR.format(path=data))
    built = SourceConfigParser(str(work)).parse_and_build(V2_SOURCES)
    assert len(built) == 1
    assert built[0].name == "file_unified"
    assert built[0].kind == "file"
    assert built[0].path == str(data)
    assert built[0].params["encode"] == "text"


def test_validate_only(tmp_path):
    """validate-only parses sources WITHOUT resolving connectors: kind and
    params stay empty (rs::test_unified_sources_config_validate_only)."""
    work = tmp_path / "work"
    work.mkdir()
    _write_connector(work, FILE_CONNECTOR.format(path="/nope"))
    specs = SourceConfigParser(str(work)).parse_and_validate_only(V2_SOURCES)
    assert len(specs) == 1
    assert specs[0].name == "file_unified"
    assert specs[0].kind == "" and specs[0].params == {}


def test_validate_only_without_connectors_ok(tmp_path):
    """rs::test_validate_only_without_connectors_ok — no registry needed."""
    specs = SourceConfigParser(str(tmp_path)).parse_and_validate_only(
        """
[[sources]]
key = "s1"
enable = true
connect = "missing_conn"
tags = ["env:test"]
"""
    )
    assert len(specs) == 1
    assert specs[0].name == "s1"
    assert specs[0].kind == "" and specs[0].params == {}
    assert specs[0].tags == ["env:test"]


def test_build_requires_connectors(tmp_path):
    """rs::test_build_requires_connectors — 'connector not found'."""
    with pytest.raises(ConnectorNotFound, match="connector not found"):
        SourceConfigParser(str(tmp_path)).parse_and_build(
            """
[[sources]]
key = "s1"
enable = true
connect = "file_main"
"""
        )


def test_build_file_source_with_base_file_params(tmp_path):
    """rs::test_build_file_source_with_base_file_params — base+file form."""
    data = tmp_path / "base" / "in.log"
    data.parent.mkdir()
    data.write_text("hello\n")
    work = tmp_path / "work"
    work.mkdir()
    _write_connector(
        work,
        f"""
[[connectors]]
id = "file_main"
type = "file"
allow_override = ["base","file","encode"]
[connectors.params]
base = "{data.parent}"
file = "in.log"
encode = "text"
""",
    )
    built = SourceConfigParser(str(work)).parse_and_build(V2_SOURCES)
    assert built[0].path == str(data)


def test_build_override_whitelist_enforced(tmp_path):
    """rs::test_build_override_whitelist_enforced — encode not overridable."""
    work = tmp_path / "work"
    work.mkdir()
    _write_connector(
        work,
        """
[[connectors]]
id = "file_main"
type = "file"
allow_override = ["path"]
[connectors.params]
path = "/tmp/x.log"
encode = "text"
""",
    )
    with pytest.raises(OverrideNotAllowed):
        SourceConfigParser(str(work)).parse_and_build(
            """
[[sources]]
key = "s1"
enable = true
connect = "file_main"
params_override = { encode = "hex" }
"""
        )


def test_registry_upward_search(tmp_path):
    """connectors/ is found by searching ancestors of the work dir (one
    machine-level registry serving nested instance workspaces)."""
    _write_connector(tmp_path, FILE_CONNECTOR.format(path="/tmp/x.log"))
    nested = tmp_path / "a" / "b" / "instance"
    nested.mkdir(parents=True)
    reg = ConnectorRegistry.load(str(nested), "source")
    assert reg is not None and "file_main" in reg.connectors


@needs_reference
def test_instance_sink_registry_resolution(tmp_path):
    """The reference instance tree's connectors/sink.d/file_raw_sink must
    resolve through the registry (not the name heuristic): infra sinks get
    their base/file params via the allow_override whitelist."""
    from wp_motor_spark.config import load_workspace

    ws = load_workspace(f"{REF}/tests/instance", out_root=str(tmp_path))
    reg = ConnectorRegistry.load(f"{REF}/tests/instance", "sink")
    assert reg is not None and "file_raw_sink" in reg.connectors
    assert reg.connectors["file_raw_sink"].allow_override == ["base", "file"]
    miss = next(s for s in ws.sinks if s.name == "miss")
    assert miss.format == "raw" and miss.path.endswith("miss.dat")


@needs_reference
def test_workspace_v2_source_e2e(spark, tmp_path):
    """A v2 [[sources]] workspace: connector registry + params_override
    feed build_pipeline's input list end-to-end."""
    import shutil

    from wp_motor_spark.config import build_pipeline, load_workspace

    root = tmp_path / "instance"
    shutil.copytree(f"{REF}/tests/instance", root)
    data = root / "src_dat"
    data.mkdir()
    (data / "v2.dat").write_text("222.133.52.20 - - [06/Aug/2019:12:12:19 +0800] "
        '"GET /a HTTP/1.1" 200 1 "http://1.2.3.4/" "UA" "-"\n')
    cdir = root / "connectors" / "source.d"
    cdir.mkdir(parents=True)
    (cdir / "00-file.toml").write_text(
        """
[[connectors]]
id = "file_src"
type = "file"
allow_override = ["base","file","encode"]
[connectors.params]
base = "src_dat"
file = "gen.dat"
encode = "text"
"""
    )
    # replace the v1 source config with a v2 one overriding `file`
    src_toml = root / "topology" / "sources" / "wpsrc.toml"
    src_toml.write_text(
        """
[[sources]]
key = "v2_file"
enable = true
connect = "file_src"
params_override = { file = "v2.dat" }
tags = ["dev_src_ip : 10.0.0.9"]
"""
    )
    ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
    v2 = [s for s in ws.sources if s.key == "v2_file"]
    assert len(v2) == 1 and v2[0].kind == "file"
    assert v2[0].tags == {"dev_src_ip": "10.0.0.9"}
    pipe, inputs = build_pipeline(ws)
    assert [os.path.normpath(p) for p in inputs] == [str(data / "v2.dat")]
    counts = pipe.write_batch(spark.read.text(inputs))
    assert counts["other"] == 1
    other_path = next(s.path for s in ws.sinks if s.name == "other")
    line = spark.read.text(other_path).collect()[0]["value"]
    assert "src_ip=222.133.52.20" in line and "dev_src_ip=10.0.0.9" in line


def test_kafka_sink_option_mapping():
    """connectors/sink.d/30-kafka.toml params -> Spark writer options:
    brokers becomes kafka.bootstrap.servers, config entries get the
    kafka. prefix, topic passes through, admin-only keys are dropped."""
    from wp_motor_spark.sources.kafka import sink_options

    got = sink_options(
        {
            "brokers": "localhost:9092",
            "topic": "wparse_output",
            "num_partitions": 1,
            "replication": 1,
            "config": ["compression.type=snappy", "acks=all"],
        }
    )
    assert got == {
        "kafka.bootstrap.servers": "localhost:9092",
        "topic": "wparse_output",
        "kafka.compression.type": "snappy",
        "kafka.acks": "all",
    }
