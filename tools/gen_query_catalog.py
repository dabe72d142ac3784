"""Generate QUERIES.md — the driver-contract catalog — from the registry.

One row per queries() entry: name, oracle kind, and the first sentence
of the query function's docstring. Regenerate after adding queries:

    python tools/gen_query_catalog.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = re.match(r"(.+?[.!?])(\s|$)", text)
    return (m.group(1) if m else text)[:220]


def main() -> None:
    from pyspark.sql import SparkSession

    from wp_motor_spark.queries import QUERIES
    from wp_motor_spark.session import local_cores

    spark = (
        SparkSession.builder.master(f"local[{local_cores()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("catalog")
        .getOrCreate()
    )
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    lines = [
        "# Query catalog (driver contract)",
        "",
        "Auto-generated by `tools/gen_query_catalog.py` — one row per",
        "`queries()` entry. `exact` = value-level DuckDB oracle compared",
        "by the round driver; `rows` = rows-only check, with quality",
        "gates in tests/QUALITY artifacts as noted in each docstring.",
        "`shuffles` counts Exchange operators in the executed plan;",
        "`py` counts Arrow/Python stages (0 = whole-stage-codegen only).",
        "",
        "| # | query | check | shuffles | py | what it demonstrates |",
        "|---|---|---|---|---|---|",
    ]
    n_exact = 0
    for i, (name, (fn, sql)) in enumerate(QUERIES.items(), 1):
        kind = "exact" if sql else "rows"
        n_exact += bool(sql)
        desc = first_sentence(fn.__doc__).replace("|", "\\|")
        try:
            plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
            nex = plan.count("Exchange") - plan.count("ReusedExchange")
            npy = (
                plan.count("ArrowEvalPython")
                + plan.count("BatchEvalPython")
                + plan.count("MapInPandas")
                + plan.count("FlatMapGroupsInPandas")
            )
            shape = f"{nex} | {npy}"
        except Exception:
            shape = "? | ?"
        lines.append(f"| {i} | `{name}` | {kind} | {shape} | {desc} |")
    lines.append("")
    lines.append(
        f"**{len(QUERIES)} queries, {n_exact} with exact value oracles.**"
    )
    lines.append("")
    out = "\n".join(lines)
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "QUERIES.md"), "w") as fh:
        fh.write(out)
    print(f"wrote QUERIES.md: {len(QUERIES)} queries, {n_exact} exact")


if __name__ == "__main__":
    main()
