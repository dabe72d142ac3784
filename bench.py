"""Benchmark runner: executes the headline query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the wall-clock total across all queries (one shared session;
per-query numbers include plan build + execution, forced via a count-style
action so the timing measures the engine, not result serialization).
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

    spark = get_spark(app_name="wp_motor_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    _warm_python_workers(spark)

    # Throughput probe comparable to BASELINE.md's per-record numbers:
    # generate nginx-style lines, run the full WPL parse + OML transform,
    # report events/s (BASELINE: WPL ~300-500 MB/s, OML ~2.7M rec/s/core).
    # The probe runs BEFORE the query suite: the r9 driver artifact read
    # 2.6x low because the probe inherited the 100-second suite's heap/
    # allocator debt and box contention, and its pre-recorded loadavg
    # couldn't show that — probe-first makes the headline number
    # interpretable from the artifact alone.
    try:
        throughput = _throughput_probe(spark)
    except Exception as exc:
        throughput = {"err": f"{type(exc).__name__}: {exc}"[:500]}

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
        for name, (fn, _sql) in QUERIES.items():
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
                    # parquet row-count scan, not the operator) — same
                    # anti-pruning action as the throughput probe below
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
        "throughput": throughput,
        "cc_telemetry": list(CC_TELEMETRY),
        # shared-box context: same-code timings swing up to ~1.6x with
        # other tenants' load (PROFILE.md measurement discipline section)
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "query_noise": noise,
    }
    if errors:
        result["errors"] = errors
    print(json.dumps(result))
    # Persist the full artifact next to the repo: the driver stores only
    # the stdout TAIL, which truncated 13 queries' timings in round 5 —
    # the file keeps every per-query number regardless of pipe limits.
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


def _throughput_probe(spark, n: int = 8_000_000) -> dict:
    # 8M rows (not 2M): at 2M the fixed per-job cost (~0.25 s of task
    # scheduling + AQE stage setup) is ~30% of wall and understates
    # steady-state throughput by that much; 8M amortizes it to <7%.
    import os
    import time

    from pyspark.sql import functions as F

    from wp_motor_spark.oml.compiler import compile_oml
    from wp_motor_spark.queries import _CLF_OML, _CLF_RULE
    from wp_motor_spark.wpl import compile_rule, parse_wpl
    from wp_motor_spark.wpl.generator import generate_lines

    rule = parse_wpl(_CLF_RULE)[0]
    lines = generate_lines(spark, rule, n).persist()
    lines.count()  # materialize inputs so the probe times parse, not gen

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cr = compile_rule(rule)
    om = compile_oml(_CLF_OML)

    parsed = cr.extract(lines)
    out = om.apply(parsed.drop("value", "_rule", "_disposition", "_residue"))
    # untimed correctness checksum — the timed pass measures the workload
    n_ok = parsed.where(F.col("_disposition") == "success").count()
    # max(hash of every output column) defeats column pruning: a bare
    # count() lets Catalyst drop the whole OML projection, timing only the
    # scan. This forces parse + transform of every row in ONE job.
    forced = F.max(F.xxhash64(*[F.col(c).cast("string") for c in out.columns]))

    def full_pass() -> float:
        t0 = time.perf_counter()
        out.select(forced).collect()
        return time.perf_counter() - t0

    # Warm codegen/JIT to steady state BEFORE measuring: one warm pass is
    # not enough — across three r13 artifact runs the first measured pass
    # was systematically 1.16-1.27x the second (same direction every time:
    # JIT still compiling, not random contention), which poisoned the
    # committed spread even on a quiet box. Warm until two consecutive
    # warm walls agree within 10% (cap 4), THEN take the measured passes.
    warm_walls = [full_pass()]
    for _ in range(3):
        warm_walls.append(full_pass())
        if warm_walls[-2] / warm_walls[-1] < 1.1 and warm_walls[-1] / warm_walls[-2] < 1.1:
            break
    # best of 2 measured passes (a third when the spread exceeds 1.5x —
    # that spread marks a contention spike, and one more sample usually
    # brackets the true floor): the box is shared, min filters out noise
    walls: list[float] = []
    loads: list[float] = [round(os.getloadavg()[0], 2)]
    for _ in range(2):
        walls.append(full_pass())
        loads.append(round(os.getloadavg()[0], 2))
    if max(walls) / min(walls) > 1.5:
        walls.append(full_pass())
        loads.append(round(os.getloadavg()[0], 2))
    wall = min(walls)
    lines.unpersist()

    return {
        "rows": n,
        "parse_ok": n_ok,
        "wpl_oml_events_per_s": round(n / wall),
        "events_per_s_per_core": round(n / wall / cores),
        # contention context for the probe itself: loadavg before the timed
        # passes AND after each one, plus every raw wall — a low events/s
        # with a rising loadavg or a wide pass spread is box noise, not a
        # code regression, and the artifact alone now shows which
        "loadavg_1m": loads[0],
        "loadavg_per_pass": loads,
        "pass_walls_s": [round(w, 3) for w in walls],
        "warm_walls_s": [round(w, 3) for w in warm_walls],
    }


if __name__ == "__main__":
    main()
