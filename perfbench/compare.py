"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE.txt NEW.txt

Each file holds the standard output of one or more runs of run.py (the
record line, then the result line, per run). For every workload and
metric it prints both medians, their quartile spreads and the ratio
NEW/BASE. It refuses to compare runs made with different core counts.
"""

from __future__ import annotations

import json
import statistics
import sys

import measure


def load(path: str) -> list[tuple[dict, dict]]:
    """(record, result) pairs in file order."""
    runs, record = [], None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "record" in obj:
                record = obj["record"]
            elif "metrics" in obj and record is not None:
                runs.append((record, obj))
                record = None
    return runs


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    if not base or not new:
        print("compare: no runs found", file=sys.stderr)
        return 2
    ref = base[0][0]
    for rec, _ in base + new:
        why = measure.comparable(ref, rec)
        if why:
            print(f"compare: refusing, {why}", file=sys.stderr)
            return 2
    table: dict[tuple[str, str], tuple[list[float], list[float]]] = {}
    for side, runs in ((0, base), (1, new)):
        for rec, res in runs:
            for name, m in res["metrics"].items():
                table.setdefault((rec["workload"], name), ([], []))[side].append(m["value"])
    print(f"{'workload':14s} {'metric':34s} {'base':>12s} {'new':>12s} {'new/base':>9s}"
          f" {'spread_b':>8s} {'spread_n':>8s}")
    for (wl, name), (b, n) in sorted(table.items()):
        if not b or not n:
            continue
        mb, mn = statistics.median(b), statistics.median(n)
        ratio = mn / mb if mb else float("nan")
        print(f"{wl:14s} {name:34s} {mb:12.4f} {mn:12.4f} {ratio:9.3f}"
              f" {_spread(b):8.3f} {_spread(n):8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
