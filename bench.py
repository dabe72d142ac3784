"""Benchmark runner: the one timer of the driver query suite. Times every
query (or only the named ones) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

    python bench.py                        # all queries
    python bench.py q1_pricing_summary ... # only these

`value` is the wall-clock total across the timed queries (one shared
session; per-query numbers include plan build + execution, forced via a
hash of every output column so the timing measures the engine, not result
serialization). A scaling check is two runs with the same names at two
$SPARK_GRAFT_SF_DIRs.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    from pyspark.sql import functions as F

    from wp_motor_spark.queries import QUERIES
    from wp_motor_spark.session import get_spark, persist_scope

    names = sys.argv[1:] or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"bench.py: unknown query {', '.join(unknown)}")

    spark = get_spark(app_name="wp_motor_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    _warm_python_workers(spark)

    # Warm the JVM/codegen path so query 1 doesn't absorb session startup.
    with persist_scope():
        next(iter(QUERIES.values()))[0](spark, sf_dir).limit(1).count()

    # Two full passes, best-of-2 per query: the box is shared, so a single
    # shot can catch a noisy-neighbor spike (observed 7x swings on the same
    # code). clearCache() between passes drops every persisted intermediate,
    # so pass 2 re-executes each query from the parquet scans — same work,
    # not a cache replay.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # per-query noise data: both raw pass times plus the 1-minute loadavg
    # sampled at each measurement, so a slow artifact can be attributed to
    # shared-box contention vs a plan regression from the JSON alone
    noise: dict[str, dict] = {}
    for _pass in range(2):
        for name in names:
            fn = QUERIES[name][0]
            if name in errors:
                continue  # failed on pass 1 — don't re-raise, keep the slot
            try:
                load0 = os.getloadavg()[0]
                t0 = time.perf_counter()
                # the scope releases this query's persists (_global_rank
                # loc, host_triangles edges, the dedup pair pipeline, …)
                # after its action, or when it raises — otherwise 200
                # queries accumulate InMemoryRelations until eviction
                # pressure, and a later query with a CacheManager-identical
                # plan would time a cache replay instead of the pipeline
                with persist_scope():
                    df = fn(spark, sf_dir)
                    # force FULL execution of every output column: a bare
                    # count() lets Catalyst prune computed projections
                    # entirely (the projection-only queries would time a
                    # parquet row-count scan, not the operator)
                    df.select(
                        F.max(
                            F.xxhash64(
                                *[F.col(c).cast("string") for c in df.columns]
                            )
                        )
                    ).collect()
                    elapsed = round(time.perf_counter() - t0, 3)
                if name not in timings or elapsed < timings[name]:
                    timings[name] = elapsed
                rec = noise.setdefault(name, {"times": [], "loadavg": []})
                rec["times"].append(elapsed)
                rec["loadavg"].append(round(load0, 2))
            except Exception as exc:  # one red query must never zero the suite
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                timings.pop(name, None)
                noise.pop(name, None)
        spark.catalog.clearCache()
    for rec in noise.values():
        ts = rec["times"]
        # best-of-2 spread: max/min ratio — 1.0 means both passes agreed;
        # a large band marks the query's own timing as contention-noisy
        rec["band"] = round(max(ts) / min(ts), 3) if min(ts) > 0 else None

    total = round(sum(timings.values()), 3)

    # connected-components convergence telemetry: iteration count is the
    # cost driver for dedup_clusters/semantic_dedup_keep — recording it
    # makes a slow run attributable (rounds vs shared-box noise)
    from wp_motor_spark.operators.dedup import CC_TELEMETRY

    result = {
        "metric": "query_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cc_telemetry": list(CC_TELEMETRY),
        # shared-box context: same-code timings swing up to ~1.6x with
        # other tenants' load
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "query_noise": noise,
    }
    if errors:
        result["errors"] = errors
    print(json.dumps(result))
    # Persist the full artifact next to the repo: the driver stores only
    # the stdout TAIL, which truncated 13 queries' timings in round 5 —
    # the file keeps every per-query number regardless of pipe limits.
    # A run of named queries prints its line only, so it never replaces
    # the last full-suite artifact.
    if not sys.argv[1:]:
        try:
            out_path = os.environ.get(
                "SPARK_GRAFT_BENCH_OUT",
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_full.json"),
            )
            with open(out_path, "w") as fh:
                json.dump(result, fh, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: stdout line remains the artifact
    spark.stop()


def _warm_python_workers(spark) -> None:
    """Spin up one Arrow python worker per core (numpy/pandas imported) so
    the first pandas-UDF query measures compute, not worker fork+import."""
    import os

    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F401 — preload into the worker

        return s

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rng = spark.range(cores * 10).repartition(cores)
    # each Arrow eval type forks its own worker pool — warm all three used
    # by the suite (scalar pandas UDF, mapInPandas, grouped applyInPandas)
    rng.select(_noop(col("id"))).count()
    rng.mapInPandas(lambda it: it, schema="id long").count()
    rng.groupBy((col("id") % cores).alias("g")).applyInPandas(
        lambda p: p, schema="id long"
    ).count()


if __name__ == "__main__":
    main()
