"""The query registry and the helpers more than one query module uses."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.session import scoped_persist


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(sql: str | None, name: str | None = None):
    """Register the decorated builder in ``QUERIES`` under ``name`` (default:
    the function's name) with its DuckDB oracle ``sql``; ``None`` marks an
    engine-specific query that gets the driver's rows-only check."""

    def register(fn):
        key = name or fn.__name__
        if key in QUERIES:
            raise ValueError(f"duplicate query name {key!r}")
        QUERIES[key] = (fn, sql)
        return fn

    return register


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load a base table; ``spread=True`` opts the scan into the
    spread-after-read repartition (sources/tables.py): use it ONLY where
    the scan feeds heavy per-row JVM compute (WPL/regex parse, text HOFs,
    blocked levenshtein) — measured 2-3x wins there, 2-5x LOSSES when the
    consumer is a Python/Arrow stage, a driver-sample loop, or a plain
    aggregation (the exchange then costs more than it buys)."""
    from wp_motor_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name, spread=spread)


def _global_rank(df: DataFrame, order_cols: list, rank_col: str = "rank") -> DataFrame:
    """Exact global row_number over ``order_cols`` WITHOUT a
    single-partition window: repartitionByRange samples the key
    distribution into balanced ordered ranges (skewed keys spread over
    many partitions), each partition ranks locally, and broadcast
    cumulative partition offsets (|partitions| rows, genuinely bounded)
    lift local ranks to global ones. The 100 TB-safe total-order
    pattern shared by snm_candidate_pairs / quality_ensemble_rank.

    ``loc`` is persisted before the offsets frame is derived: the rank
    side and the offsets side are two instantiations of the SAME
    repartitionByRange, and RangePartitioner boundaries come from
    sampling — correctness must not depend on exchange reuse
    (spark.sql.exchange.reuse) deduplicating them. With the persist both
    subtrees read one InMemoryRelation, i.e. one physical partitioning,
    regardless of reuse behavior."""
    loc = scoped_persist(
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lr",
            F.row_number().over(
                Window.partitionBy("__pid").orderBy(*order_cols)
            ),
        )
    )
    offsets = (
        loc.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__off")
    )
    return (
        loc.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.col("__lr") + F.col("__off"))
        .drop("__pid", "__lr", "__off", "__cnt")
    )


def _global_rank_cumsum(
    df: DataFrame, order_cols: list, value_col: str,
    rank_col: str = "rank", cum_col: str = "__cum",
) -> DataFrame:
    """Fused _global_rank + _global_cumsum over the SAME total order: one
    repartitionByRange, one persist, one offsets frame carrying BOTH the
    cumulative row-count and the cumulative value total per range
    partition (r16 optimization: abc_analysis paid two full range
    exchanges + two persists for the rank pass and the prefix-sum pass;
    the orders are identical, so both lift from one partitioning).
    Values are exactly those of the two-pass composition."""
    dtype = dict(df.dtypes)[value_col]
    w_part = Window.partitionBy("__pid").orderBy(*order_cols)
    loc = scoped_persist(
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(w_part))
        .withColumn(
            "__lc",
            F.sum(value_col).over(
                w_part.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        loc.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.sum(value_col).alias("__pt"))
        .withColumn("__roff", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .withColumn(
            "__voff",
            F.coalesce(F.sum("__pt").over(w_off), F.lit(0).cast(dtype)),
        )
        .select("__pid", "__roff", "__voff")
    )
    return (
        loc.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.col("__lr") + F.col("__roff"))
        .withColumn(cum_col, F.col("__lc") + F.col("__voff"))
        .drop("__pid", "__lr", "__lc", "__roff", "__voff")
    )


def _holds_rank(r):
    """Filter for the row of a value histogram that holds the ``r``-th
    smallest value, given each row's count ``cnt`` and the running count
    ``cum`` through it: the rows before it stop short of rank ``r`` and
    its own count reaches it."""
    return (F.col("cum") - F.col("cnt") < r) & (F.col("cum") >= r)


def _dec(col, scale: int = 2):
    return col.cast(f"decimal(18,{scale})")
