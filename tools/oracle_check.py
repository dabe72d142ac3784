"""Driver-style correctness harness: run every queries() entry on Spark and
its oracle_sql() on DuckDB over the same parquet, compare row count +
columns + order-insensitive values. Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# --exact: reproduce the round driver's stricter comparison. The driver
# materializes the DuckDB side through pandas/Arrow, where HUGEINT
# (SUM(...) OVER) and epoch() become float64 — so an int-typed Spark column
# vs a float-typed oracle column hash-differ even when numerically equal
# (str(5) != str(5.0)). Exact mode fetches the oracle via .df() and compares
# full-precision reprs with no rounding, so those type drifts fail locally
# exactly as they fail in CORRECTNESS_r{N}.json.
EXACT = False


def norm_cell(v, strip_midnight=False):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v) if EXACT else round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        # Only when the OTHER side's column is date-typed (caller sets
        # strip_midnight per column): pandas/Arrow promote DATE columns
        # to midnight Timestamps (the exact-mode .df() path), and the
        # round driver accepts date==datetime at midnight
        # (events_retention was driver-green in r7). A timestamp column
        # compared against a timestamp column is never stripped, so a
        # genuine date-truncation regression on midnight rows fails.
        if strip_midnight and s.endswith("T00:00:00"):
            s = s[: -len("T00:00:00")]
        return s
    if EXACT:
        return repr(v)
    return v


def frame_to_set(cols, rows, strip_cols=frozenset()):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    strip = [cols[i] in strip_cols for i in order]
    out = []
    for r in rows:
        out.append(
            tuple(norm_cell(r[i], strip[j]) for j, i in enumerate(order))
        )
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    global EXACT
    argv = [a for a in sys.argv[1:] if a != "--exact"]
    EXACT = "--exact" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from wp_motor_spark.session import local_cores, persist_scope

    # a VANILLA session, like the round driver builds — queries must set
    # any runtime confs they need themselves (sources/tables.py)
    spark = (
        SparkSession.builder.master(f"local[{local_cores()}]")
        .appName("oracle_check")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # drop the query's persists once materialized (the full sweep
            # would otherwise accumulate InMemoryRelations)
            with persist_scope():
                sdf = fn(spark, sf_dir)
                srows = sdf.collect()
                scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} SPARK-ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"{name:28s} rows-only    {len(srows)} rows")
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            dtypes = {d[0]: str(d[1]) for d in cur.description}
            if EXACT:
                # driver-style: through pandas, so HUGEINT/epoch -> float64
                import numpy as np

                def _py(v):
                    if isinstance(v, np.generic):
                        return v.item()
                    if isinstance(v, np.ndarray):
                        return v.tolist()
                    return v

                pdf = cur.df()
                # pandas promotes nullable int columns to float64, turning
                # DuckDB NULL into NaN ("nan" after normalization) while the
                # Spark side normalizes None to "NULL" — map NaN back to None
                # so exact mode doesn't raise false local failures
                pdf = pdf.astype(object).where(pdf.notna(), None)
                drows = [
                    [_py(v) for v in row]
                    for row in pdf.itertuples(index=False, name=None)
                ]
            else:
                drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} DUCKDB-ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        # type-aware midnight normalization: strip T00:00:00 from a
        # side's datetime values only where the OTHER side is date-typed
        # (plus the oracle's own DATE cols in EXACT mode, where pandas
        # promoted them to midnight Timestamps)
        stypes = dict(sdf.dtypes)
        oracle_date = {c for c in dcols if dtypes.get(c, "").upper() == "DATE"}
        spark_date = {c for c in scols if stypes.get(c) == "date"}
        strip_spark = {c for c in scols if c in oracle_date}
        strip_oracle = spark_date | (oracle_date if EXACT else set())
        sc, sv = frame_to_set(scols, [list(r) for r in srows], strip_spark)
        dc, dv = frame_to_set(dcols, [list(r) for r in drows], strip_oracle)
        status = []
        if sc != dc:
            status.append(f"cols {sc} != {dc}")
        if len(sv) != len(dv):
            status.append(f"rowcount {len(sv)} != {len(dv)}")
        elif sc == dc and sv != dv:
            bad = sum(1 for a, b in zip(sv, dv) if a != b)
            status.append(f"values differ in {bad}/{len(sv)} rows")
            for a, b in list(zip(sv, dv))[:2000]:
                if a != b:
                    status.append(f"  spark={a}")
                    status.append(f"  duck ={b}")
                    break
        if status:
            print(f"{name:28s} MISMATCH  " + "; ".join(status[:3]))
            failures.append(name)
        else:
            print(f"{name:28s} OK        {len(sv)} rows")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
