"""Headline query suite: every query pairs a Spark DataFrame builder with an
ANSI-SQL oracle (DuckDB) over the same parquet tables.

Each builder registers itself where it is defined, with ``@query(sql)``
(``_common.query``). ``QUERIES`` maps each name to ``(builder, sql)`` in the
order the domain modules below are imported.

Conventions for oracle hash-parity:
- Aggregates over float columns go through DECIMAL(18,2) so both engines
  sum exactly, then cast the result to DOUBLE (deterministic in both).
- Every computed column is aliased identically in Spark and SQL.
- Ratios divide exact ints/decimals as doubles and round(…, 4).
- Session TZ is UTC; DuckDB timestamps are naive → equal wall-clocks.

Queries registered with sql=None are engine-specific (xxhash64-based
sketches) and get the driver's rows-only check.
"""

from wp_motor_spark.queries._common import QUERIES, query
from wp_motor_spark.queries import (  # noqa: F401  (importing registers)
    etl,
    tpch,
    dedup,
    corpus,
    text,
    retrieval,
    graph,
    timeseries,
    stats,
    analytics,
)

__all__ = ["QUERIES", "query"]
