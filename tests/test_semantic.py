"""Semantic dictionary tests (wp-oml semantic_dict_loader.rs +
extract_word.rs): built-in word sets, add/replace merge against the
reference's OWN example configs (config-examples/), the
SEMANTIC_DICT_CONFIG env hook, and the Spark semantic pipes consuming
the dict.

The add/replace tests read the reference checkout's config-examples and
are marked needs_reference (they skip when that tree is absent). The
workspace switch test runs on the in-repo `wproj init --mode full`
scaffold."""

import pytest
from pyspark.sql import functions as F

from conftest import REF, needs_reference
from wp_motor_spark.oml.semantic import (
    SemanticDict,
    load_semantic_dict,
    reset_semantic_dict,
    semantic_dict,
)

EXAMPLES = f"{REF}/config-examples"


@pytest.fixture(autouse=True)
def _fresh_dict(monkeypatch):
    monkeypatch.delenv("SEMANTIC_DICT_CONFIG", raising=False)
    reset_semantic_dict()
    yield
    reset_semantic_dict()


def test_builtin_sets():
    d = SemanticDict.builtin()
    assert "the" in d.stop_words and "的" in d.stop_words
    assert "timeout" in d.domain_words
    assert "failed" in d.status_words and "超时" in d.status_words
    assert "connect" in d.action_verbs and "登录" in d.action_verbs
    assert "session" in d.entity_nouns
    assert "nr" in d.core_pos  # hard-coded, non-configurable


@needs_reference
def test_add_mode_merges_reference_example():
    conf = load_semantic_dict(f"{EXAMPLES}/semantic_dict_example.toml")
    assert conf["mode"] == "add"
    d = SemanticDict.builtin().merge(conf)
    # new words added, built-ins kept
    assert "processing" in d.status_words and "处理中" in d.status_words
    assert "failed" in d.status_words
    assert "calculate" in d.action_verbs and "connect" in d.action_verbs


@needs_reference
def test_replace_mode_reference_example():
    conf = load_semantic_dict(f"{EXAMPLES}/semantic_dict_replace_mode.toml")
    d = SemanticDict.builtin().merge(conf)
    # stop words REPLACED wholesale
    assert d.stop_words == {"的", "the"}
    # domain words replaced by the flattened k8s categories
    assert "pod" in d.domain_words and "rbac" in d.domain_words
    assert "timeout" not in d.domain_words
    # undeclared sections keep built-ins
    assert "failed" in d.status_words


def test_version_check(tmp_path):
    p = tmp_path / "bad.toml"
    p.write_text("version = 9\n")
    with pytest.raises(ValueError, match="Unsupported semantic_dict version"):
        load_semantic_dict(str(p))


def test_env_hook(tmp_path, monkeypatch):
    p = tmp_path / "dict.toml"
    p.write_text(
        'version = 1\nmode = "add"\n[status_words]\nenglish = ["archived"]\n'
    )
    monkeypatch.setenv("SEMANTIC_DICT_CONFIG", str(p))
    reset_semantic_dict()
    assert "archived" in semantic_dict().status_words
    # a broken config warns and falls back to built-ins
    p.write_text("version = 9\n")
    reset_semantic_dict()
    assert "failed" in semantic_dict().status_words


def test_extract_pipes_disabled_by_default(spark):
    """[semantic] enabled defaults to FALSE (semantic_dict_loader.rs:9);
    disabled pipes return empty string / empty (all-null) object
    (extract_word.rs:311,370) without consulting the dict."""
    from wp_motor_spark.oml import functions as ofn
    from wp_motor_spark.oml.semantic import set_semantic_enabled

    # other tests (e.g. building a [semantic]-enabled workspace) may have
    # flipped the process-global switch — pin the disabled state
    set_semantic_enabled(False)
    row = (
        spark.createDataFrame([("user alice connect database failed",)], ["msg"])
        .select(
            ofn.extract_main_word(F.col("msg")).alias("main"),
            ofn.extract_subject_object(F.col("msg")).alias("sao"),
        )
        .collect()[0]
    )
    assert row["main"] == ""
    assert row["sao"]["subject"] is None and row["sao"]["status"] is None


def test_workspace_conf_flips_semantic_switch(tmp_path):
    """build_pipeline applies wparse.toml [semantic] enabled at startup
    (facade/args.rs:125 -> service.rs:50): a workspace whose conf
    enables it flips the switch on."""
    from wp_motor_spark.config import build_pipeline, load_workspace
    from wp_motor_spark.oml.semantic import (
        is_semantic_enabled,
        set_semantic_enabled,
    )
    from wp_motor_spark.wproj import main as wproj

    root = tmp_path / "ws"
    assert wproj(["init", "-w", str(root), "--mode", "full"]) == 0
    with open(root / "conf" / "wparse.toml", "a") as fh:
        fh.write("[semantic]\nenabled = true\n")
    try:
        ws = load_workspace(str(root), out_root=str(tmp_path / "out"))
        assert ws.semantic_enabled is True
        build_pipeline(ws)
        assert is_semantic_enabled()
    finally:
        set_semantic_enabled(False)


def test_extract_pipes_use_dict(spark, tmp_path, monkeypatch):
    from wp_motor_spark.oml import functions as ofn
    from wp_motor_spark.oml.semantic import set_semantic_enabled

    set_semantic_enabled(True)
    df = spark.createDataFrame(
        [
            ("user alice connect database failed",),
            ("the big timeout happened",),
        ],
        ["msg"],
    )
    rows = {
        r["msg"]: (r["main"], r["sao"])
        for r in df.select(
            "msg",
            ofn.extract_main_word(F.col("msg")).alias("main"),
            ofn.extract_subject_object(F.col("msg")).alias("sao"),
        ).collect()
    }
    main1, sao1 = rows["user alice connect database failed"]
    assert main1 == "database"  # domain word beats longer non-domain tokens
    assert sao1["subject"] == "user"
    assert sao1["action"] == "connect"  # first ACTION VERB, not token 2
    assert sao1["object"] == "database"
    assert sao1["status"] == "failed"
    main2, sao2 = rows["the big timeout happened"]
    assert main2 == "timeout"  # "the" stopped, domain word wins
    assert sao2["status"] == "timeout"

    # an external dict extends the status set and the pipe sees it
    p = tmp_path / "dict.toml"
    p.write_text(
        'version = 1\nmode = "add"\n[status_words]\nenglish = ["archived"]\n'
    )
    monkeypatch.setenv("SEMANTIC_DICT_CONFIG", str(p))
    reset_semantic_dict()
    row = (
        df.limit(1)
        .select(
            ofn.extract_subject_object(
                F.lit("job nightly archived")
            ).alias("sao")
        )
        .collect()[0]["sao"]
    )
    assert row["status"] == "archived"
    set_semantic_enabled(False)
