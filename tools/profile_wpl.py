"""Staged profiling of the WPL parse + OML transform hot path.

Times each layer of the probe pipeline independently on the same persisted
2M-line corpus so the per-row cost of regex / split / typed casts / OML /
hash-forcing can be attributed. The corpus is generated from the in-repo
CLF rule and model (`queries._CLF_RULE` / `_CLF_OML`). Run:

    python tools/profile_wpl.py [n_rows]

Prints one line per stage: name, wall (best of 2), rows/s, rows/s/core,
us/row, and the delta vs the previous stage.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from wp_motor_spark.oml.compiler import compile_oml  # noqa: E402
from wp_motor_spark.queries import _CLF_OML, _CLF_RULE  # noqa: E402
from wp_motor_spark.session import get_spark  # noqa: E402
from wp_motor_spark.wpl import compile_rule, parse_wpl  # noqa: E402
from wp_motor_spark.wpl.generator import generate_lines  # noqa: E402

CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def timed(df, label, prev_us=[0.0]):
    """Force full evaluation of every column; best-of-2 wall clock.

    The probe Dataset is REBUILT per pass: re-collecting the same JVM
    Dataset under AQE only re-runs the final stage over materialized
    query-stage outputs, which under-measures by ~20x."""
    cols = [F.col(c).cast("string") for c in df.columns]

    def one():
        t0 = time.perf_counter()
        df.select(F.max(F.xxhash64(*cols))).collect()
        return time.perf_counter() - t0

    one()  # warm codegen
    wall = min(one(), one())
    return wall


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark(app_name="profile_wpl")
    spark.sparkContext.setLogLevel("ERROR")

    rule = parse_wpl(_CLF_RULE)[0]
    cr = compile_rule(rule)
    om = compile_oml(_CLF_OML)

    lines = generate_lines(spark, rule, n).persist()
    lines.count()

    print(f"pattern ({cr.n_groups} groups): {cr.pattern}")
    print(f"rows={n} cores={CORES}")

    stages = []

    # 0. scan + hash baseline (harness cost)
    stages.append(("scan+hash", lines))

    # 1. regex replace only (no split)
    repl = "\x01".join(f"${i}" for i in range(1, cr.n_groups + 1))
    stages.append(
        ("regexp_replace", lines.select(F.regexp_replace("value", cr.pattern, repl).alias("r")))
    )

    # 2. + split
    stages.append(("replace+split", lines.select(cr.parts_col(F.col("value")).alias("p"))))

    # 3. + raw element access (strings only, no typed casts)
    parts = cr.parts_col(F.col("value"))
    raw_cols = [
        F.try_element_at(parts, F.lit(o.group)).alias(f"c{o.group}") for o in cr.outputs
    ]
    stages.append(("+raw fields", lines.select(*raw_cols)))

    # 4. full extract (typed casts + disposition + residue)
    stages.append(("extract()", cr.extract(lines)))

    # 5. extract minus the time cast: swap recv_time for raw string
    ex = cr.extract(lines)
    no_time = ex.withColumn("recv_time", F.lit("x"))
    stages.append(("extract(no-time-out)", no_time))

    # 6. extract + OML
    parsed = cr.extract(lines)
    out = om.apply(parsed.drop("value", "_rule", "_disposition", "_residue"))
    stages.append(("extract+OML", out))

    prev = None
    for label, df in stages:
        wall = timed(df, label)
        us = wall / n * 1e6
        delta = "" if prev is None else f"  (+{us - prev:.2f} us)"
        print(
            f"{label:24s} {wall:7.3f}s  {n/wall:>12,.0f} rows/s "
            f"{n/wall/CORES:>10,.0f} /core  {us:6.2f} us/row{delta}"
        )
        prev = us

    lines.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
