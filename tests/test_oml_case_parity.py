"""Reference-integration-test sweep: crates/wp-oml/tests/test_case.rs
(39 tests). The match/enable/sql/static families were pinned in earlier
rounds (tests/test_oml.py); this module drives the remaining distinctive
bodies: wildcard TAKE patterns with path segments, take-move semantics,
object construction, tuple matches (triple/quadruple, mixed in-range +
exact conditions), and collect-keys + to_json piping.

The arc-optimization tests (test_arc_optimization_*) are Rust memory
plumbing (Arc sharing across references) with no engine surface —
column expressions are shared by Catalyst's subexpression handling."""

from conftest import REF, needs_reference
from wp_motor_spark.oml.compiler import compile_oml


def _run(spark, conf, data: dict):
    df = spark.createDataFrame([tuple(data.values())], list(data.keys()))
    out = compile_oml(conf).apply(df)
    return out.columns, out.first().asDict()


PATHS = {
    "A1/path": "hello1",
    "A2/name": "hello1",
    "B2/path": "hello2",
    "C3/name": "hello3",
}


def test_wild_get_path_patterns(spark):
    """test_case.rs test_wild_get: '*' takes everything; '*/path' only the
    two /path fields; 'A*/path' narrows by prefix; '*/name=' (no space
    before '=') still parses."""
    cols, row = _run(spark, "name : t\n---\n* = take();\n", PATHS)
    assert set(cols) == set(PATHS) and row["A1/path"] == "hello1"
    cols, _ = _run(spark, "name : t\n---\n*/path = take();\n", PATHS)
    assert set(cols) == {"A1/path", "B2/path"}
    cols, _ = _run(spark, "name : t\n---\nA*/path = take();\n", PATHS)
    assert set(cols) == {"A1/path"}
    cols, _ = _run(spark, "name : t\n---\n*/name= take();\n", PATHS)
    assert set(cols) == {"A2/name", "C3/name"}


def test_crate_move_semantics(spark):
    """test_case.rs test_crate_move: take() MOVES the source field — a
    second take(A1) yields nothing even though an OUTPUT named A1 now
    exists (the move registry is keyed on the source record; prior
    outputs are reachable only via read()/@ref)."""
    _, row = _run(
        spark,
        "name : t\n---\nA1 : chars = take(A1);\nA2 : chars = take(A1);\n",
        {"A1": "hello1", "B2": "hello2"},
    )
    assert row["A1"] == "hello1"
    assert row.get("A2") is None


def test_value_get_and_guarded_take(spark):
    """test_case.rs test_crate_get + test_value_get: a literal-valued
    output and a take() with a match-block guard."""
    _, row = _run(
        spark,
        "name : t\n---\nA4 : chars = chars(hello4);\n"
        "A10  = take() { _ : chars(hello1) };\n",
        {"A1": "hello1"},
    )
    assert row["A4"] == "hello4"
    assert row["A10"] == "hello1"


def test_map_get_object_construct(spark):
    """test_case.rs test_map_get: `X : obj = object { ... }` builds a
    nested object from takes and literals."""
    _, row = _run(
        spark,
        "name : t\n---\nX : obj =  object {\n"
        "    A1 : chars = take();\n    B2 : chars = take();\n"
        "    C3 : chars = chars(hello3);\n};\n",
        {"A1": "hello1", "B2": "hello2", "C3": "hello3"},
    )
    x = row["X"]
    assert x is not None
    s = str(x)
    assert "hello1" in s and "hello2" in s and "hello3" in s


def test_match_tuple_triple_and_quadruple(spark):
    """test_case.rs test_match_triple_get / _with_mixed_cond /
    test_match_quadruple_get / _with_range: tuple source matches with
    exact chars, exact ip and in-range ip conditions, falling to the
    default arm on any component mismatch."""
    triple = (
        "name : t\n---\nX : chars = match (take(city), take(level), take(zone)) {\n"
        "        (chars(bj), chars(high), chars(north)) => chars(result_A) ;\n"
        "        (chars(sh), chars(low), chars(east)) => chars(result_B) ;\n"
        "        _  => chars(default) ;\n};\n"
    )
    for d, want in [
        ({"city": "bj", "level": "high", "zone": "north"}, "result_A"),
        ({"city": "sh", "level": "low", "zone": "east"}, "result_B"),
        ({"city": "bj", "level": "low", "zone": "north"}, "default"),
    ]:
        _, row = _run(spark, triple, d)
        assert row["X"] == want, (d, row["X"])

    mixed = (
        "name : t\n---\nX : chars = match (take(ip), take(level), take(zone)) {\n"
        "        (in (ip(10.0.0.1), ip(10.0.0.100)), chars(high), chars(north)) => chars(block) ;\n"
        "        (ip(192.168.0.1), chars(low), chars(south)) => chars(allow) ;\n"
        "        _  => chars(unknown) ;\n};\n"
    )
    for d, want in [
        ({"ip": "10.0.0.50", "level": "high", "zone": "north"}, "block"),
        ({"ip": "192.168.0.1", "level": "low", "zone": "south"}, "allow"),
        ({"ip": "172.16.0.1", "level": "mid", "zone": "west"}, "unknown"),
    ]:
        _, row = _run(spark, mixed, d)
        assert row["X"] == want, (d, row["X"])

    quad = (
        "name : t\n---\nX : chars = match (take(src_ip), take(dst_ip), take(level), take(zone)) {\n"
        "        (in (ip(10.0.0.1), ip(10.0.0.100)), in (ip(192.168.0.1), ip(192.168.0.100)), chars(high), chars(east)) => chars(critical) ;\n"
        "        (ip(172.16.0.1), ip(172.16.0.2), chars(low), chars(west)) => chars(minor) ;\n"
        "        _  => chars(normal) ;\n};\n"
    )
    for d, want in [
        ({"src_ip": "10.0.0.50", "dst_ip": "192.168.0.50",
          "level": "high", "zone": "east"}, "critical"),
        ({"src_ip": "10.0.0.50", "dst_ip": "192.168.0.50",
          "level": "low", "zone": "east"}, "normal"),
    ]:
        _, row = _run(spark, quad, d)
        assert row["X"] == want, (d, row["X"])


def test_value_arr_collect_and_to_json(spark):
    """test_case.rs test_value_arr: collect take(keys:[A1,B2,C*]) builds
    the array in key order; `pipe read(X1) | to_json` serializes it."""
    _, row = _run(
        spark,
        "name : t\n---\nX1 : array = collect take(keys : [A1, B2,C*]);\n"
        "X2  =  pipe read(X1) | to_json ;\n",
        {"A1": "hello1", "B2": "hello2", "C3": "hello3", "C4": "hello4"},
    )
    assert list(row["X1"]) == ["hello1", "hello2", "hello3", "hello4"]
    assert row["X2"] == '["hello1","hello2","hello3","hello4"]'


# --------------------------------------- wp-knowledge memdb.rs (13 tests)


@needs_reference
def test_knowdb_memdb_contract(spark, tmp_path):
    """wp-knowledge/src/mem/memdb.rs: the reference's own example.csv
    loads 10 rows (test_load); a max-row cap loads EXACTLY max, no
    off-by-one (test_csv_off_by_one); requesting more columns than the
    CSV carries is a load error naming 'insufficient columns'
    (test_csv_missing_column_error); NULL csv cells surface as NULL
    (test_row_null_mapping). The sqlite handle/blob/concurrency tests
    are storage plumbing with no Spark surface — tables here are
    broadcast DataFrames and Spark owns concurrency."""
    import os

    from wp_motor_spark.knowdb import KnowDB

    ref_csv = f"{REF}/crates/wp-knowledge/src/mem/dict/example.csv"
    root = tmp_path / "work"
    kdir = root / "models" / "knowledge"
    tdir = kdir / "example"
    tdir.mkdir(parents=True)
    import shutil

    shutil.copy(ref_csv, tdir / "data.csv")
    (kdir / "knowdb.toml").write_text(
        'version = 2\n[[tables]]\nname = "example"\n'
        "columns = { by_index = [0, 1] }\n"
    )
    kdb = KnowDB(spark).load_knowdb_toml(str(root))
    assert kdb.table("example").count() == 10

    # max cap: exactly 1 row
    (kdir / "knowdb.toml").write_text(
        'version = 2\n[[tables]]\nname = "example"\nmax_rows = 1\n'
    )
    kdb = KnowDB(spark).load_knowdb_toml(str(root))
    assert kdb.table("example").count() == 1

    # missing column -> load error naming the problem
    (tdir / "data.csv").write_text("name\nonly_one_col\n")
    (kdir / "knowdb.toml").write_text(
        'version = 2\n[[tables]]\nname = "example"\n'
        "columns = { by_index = [0, 1] }\n"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="insufficient columns"):
        KnowDB(spark).load_knowdb_toml(str(root))

    # NULL cell -> NULL value (a fully-blank CSV line is skipped by the
    # reader, so the NULL rides an empty cell next to a real one)
    (tdir / "data.csv").write_text("a,v\n1,\n")
    (kdir / "knowdb.toml").write_text(
        'version = 2\n[[tables]]\nname = "example"\n'
    )
    kdb = KnowDB(spark).load_knowdb_toml(str(root))
    rows = kdb.table("example").collect()
    assert len(rows) == 1 and rows[0]["v"] is None
