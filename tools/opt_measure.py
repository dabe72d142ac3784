"""Per-query optimization harness (guide §1): time selected queries in
isolation with the noop sink and dump .explain("formatted") to plans/r17/.

    python tools/opt_measure.py [--sf sfdir] [--passes N] [--plans suffix] q1 q2 ...

Timing methodology: same session config as bench.py (get_spark), job
labeled per query, noop sink forces every column of every row (§1.4), the
min over N passes is reported (shared box, min filters contention noise).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="suffix: write plans/r17/<q>_<suffix>.txt")
    args = ap.parse_args()

    from wp_motor_spark.queries import QUERIES
    from wp_motor_spark.session import get_spark, persist_scope

    spark = get_spark(app_name="opt_measure")
    spark.sparkContext.setLogLevel("ERROR")

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r17")
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = QUERIES[name][0]
        spark.sparkContext.setJobDescription(f"opt: {name}")
        times = []
        for i in range(args.passes):
            t0 = time.perf_counter()
            with persist_scope():
                df = fn(spark, args.sf)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.perf_counter() - t0, 3))
        if args.plans:
            with persist_scope():
                df = fn(spark, args.sf)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(plan)
        spark.catalog.clearCache()
        out[name] = {"min": min(times), "times": times,
                     "loadavg": round(os.getloadavg()[0], 2)}
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTAL_MIN", round(sum(v["min"] for v in out.values()), 3))
    spark.stop()


if __name__ == "__main__":
    main()
