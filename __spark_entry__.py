"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()``
exposes one callable per implemented operator (SURVEY.md §2 + the
training-pipeline extensions); ``oracle_sql()`` gives the DuckDB-equivalent
SQL for everything SQL-expressible (engine-specific sketch ops — xxhash64
MinHash/SimHash/LSH — are rows-only by design; their exact-oracle twins are
ngram_jaccard_dups / cosine_topk).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from wp_motor_spark.queries import QUERIES
from wp_motor_spark.queries.tpch import q1_pricing_summary


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in QUERIES.items() if sql is not None}
