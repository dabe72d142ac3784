"""SparkSession factory with scale-appropriate defaults.

Tuned for correctness-vs-oracle (UTC session timezone, deterministic) and for
the 100TB design point (AQE on, skew-join handling, sane shuffle sizing).
On a real cluster only ``shuffle_partitions`` / memory knobs change.
"""

from __future__ import annotations

import contextvars
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


#: cgroup memory limits: v2 ``memory.max`` (the text ``max`` = no limit)
#: and v1 ``memory.limit_in_bytes`` (a huge sentinel = no limit)
_CGROUP_MEM_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _default_driver_mem(
    meminfo: str = "/proc/meminfo", cgroup_limits: tuple[str, ...] = _CGROUP_MEM_LIMITS
) -> str:
    """min(24g, ~25% of usable RAM), floor 2g — the 24g local[32] bench
    sizing, degraded gracefully on smaller hosts. Usable RAM is MemTotal
    capped by the cgroup memory limit: inside a container MemTotal is the
    host's memory. A "no limit" marker is either not a number or larger
    than MemTotal, so it drops out of the min. Nothing readable falls
    back to the 24g bench default; WP_DRIVER_MEM always wins (see caller)."""
    sizes = []
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    sizes.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    for path in cgroup_limits:
        try:
            with open(path) as fh:
                sizes.append(int(fh.read().strip()))
        except (OSError, ValueError):
            pass
    if not sizes:
        return "24g"
    return f"{max(2, min(24, min(sizes) // (4 * 2**30)))}g"


def get_spark(
    app_name: str = "wp_motor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("WP_SHUFFLE_PARTITIONS", str(max(cpus, 32)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / oracle parity
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert at the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime re-planning: coalesce small shuffle partitions, split skewed
        # ones — essential at 100TB where static planning is always wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (incl. partition coalescing) for persisted
        # DataFrames too: off, every scoped_persist intermediate keeps the
        # static shuffle-partition count, so tiny cached tables fan every
        # downstream stage out to N near-empty tasks (measured: 8-round
        # greedy loop over a 256k-row cache, 32->AQE-sized partitions cut
        # the loop wall ~20% locally; at scale AQE sizes from bytes, so
        # this stays data-driven, guide §2.2).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the few pandas-UDF paths (batched, columnar transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast dims up to 64MB — KnowDB-style enrichment tables are small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/IO codec (guide §2.3: "measure both"): full-suite A/B at
        # sf0.1 — zstd 246.1 s / 72.1k ev/s/core probe vs lz4 236.6 s /
        # 92.0k. Local shuffles are CPU-bound over tiny partitions, so
        # zstd's ratio buys nothing here; on a network-bound cluster flip
        # WP_IO_CODEC=zstd and re-measure.
        .config("spark.io.compression.codec", os.environ.get("WP_IO_CODEC", "lz4"))
        .config("spark.ui.enabled", "false")
        # local-mode heap sizing (guide §5): in local[N] the ONE driver JVM
        # hosts all N executor threads, so 8g forced constant GC under the
        # 32-thread suite — full-bench A/B at sf0.1 (same box, back-to-back):
        # 8g 270.7 s suite / 38k ev/s/core probe vs 24g 252.8 s / 108.7k.
        # 24g is ~20% of the 128 GiB bench box, leaving room for Python
        # workers; on a real cluster spark.executor.memory is sized
        # separately and this knob only feeds the (small) driver. r17
        # (ADVICE): the default is capped at ~25% of MemTotal or the cgroup
        # limit, whichever is lower, so a memory-limited container doesn't
        # fail to start a 24g JVM; WP_DRIVER_MEM still overrides outright.
        .config("spark.driver.memory",
                os.environ.get("WP_DRIVER_MEM", _default_driver_mem()))
    )
    return builder.getOrCreate()


#: persisted handles of the innermost open persist_scope, or None outside
#: any scope. A ContextVar, so each thread (and asyncio task) sees only the
#: scopes it opened itself.
_SCOPE: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "wp_persist_scope", default=None
)


@contextmanager
def persist_scope() -> Iterator[None]:
    """Unpersist, on exit, every DataFrame that ``scoped_persist`` cached
    inside the block — also when the block raises. A suite harness wraps
    each query's build AND its action: unpersisting before the action
    would only force recomputation, and without the release a later query
    with a CacheManager-identical plan would replay this one's cache.
    Scopes nest; a persist belongs to the innermost open scope."""
    frame: list[DataFrame] = []
    token = _SCOPE.set(frame)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for df in reversed(frame):
            df.unpersist()


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)``, released when the innermost open
    ``persist_scope`` exits. Outside any scope it is a plain persist and
    the caller owns the handle."""
    out = df.persist(level)
    frame = _SCOPE.get()
    if frame is not None:
        frame.append(out)
    return out
