"""End-to-end smoke of the driver contract (__spark_entry__).

Round-3 postmortem: the driver regenerated events.parquet with
``ts: timestamp[us]`` (previously TIMESTAMP(NANOS)); no local test executed
the driver query suite, so pytest stayed green while every driver artifact
went red (CORRECTNESS_r03 user_sessions error, BENCH_r03 rc=1). This file
closes that gap: every ``queries()`` entry is fully materialized at sf0.001
with the same anti-pruning forcing hash bench.py uses, and every
``oracle_sql()`` entry is cross-checked for row count against DuckDB over
the same parquet files.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf001_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf001_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def _force(df):
    """Materialize every output column (same trick as bench.py): a bare
    count() would let Catalyst prune the computed projections entirely."""
    df.select(
        F.max(F.xxhash64(*[F.col(c).cast("string") for c in df.columns]))
    ).collect()


@pytest.mark.parametrize("name", list(entry_mod.queries().keys()))
def test_query_runs_and_matches_oracle_rowcount(name, spark, sf001_dir, duck):
    fn = entry_mod.queries()[name]
    df = fn(spark, sf001_dir)
    _force(df)  # raises on any analysis/runtime error — the r3 failure mode

    sql = entry_mod.oracle_sql().get(name)
    if sql is not None:
        spark_rows = df.count()
        oracle_rows = duck.execute(
            f"SELECT count(*) FROM ({sql}) t"
        ).fetchone()[0]
        assert spark_rows == oracle_rows, (
            f"{name}: spark={spark_rows} oracle={oracle_rows}"
        )


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_query_rejects_a_duplicate_name():
    """A second builder under a registered name fails loudly instead of
    replacing the first, and leaves the registry as it was."""
    from wp_motor_spark.queries import QUERIES, query

    before = dict(QUERIES)
    with pytest.raises(ValueError, match="q1_pricing_summary"):

        @query(None, name="q1_pricing_summary")
        def impostor(spark, sf_dir):
            return None

    assert QUERIES == before
