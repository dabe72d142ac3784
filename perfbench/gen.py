"""Seeded input generator and plain-Python ground truth for the benchmark.

Every line is generated together with the fields that decide where the
pipeline must deliver it: the rule it should match, its disposition and
the routing fields the sink conditions read. Expected per-sink counts are
computed here from those fields and the workspace's KnowDB CSVs, never
through the program under test.

Run as a script, this module is the open-loop generator of the
``stream_open`` workload: a separate process that renames pre-written
files into the watched directory on a fixed schedule and reports when each
file was due and when it landed.
"""

from __future__ import annotations

import bisect
import csv
import json
import os
import random
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
WORKSPACES = os.path.join(HERE, "workspaces")

NGINX, DEVICE, APP, CLF = "/bench/nginx", "/bench/device", "/bench/app", "/single/clf"

_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_METHODS = ("GET", "GET", "GET", "POST", "HEAD")
_URIS = ("/", "/index.html", "/api/v1/items", "/api/v1/login", "/static/app.js",
         "/img/logo.png", "/search", "/health")
_STATUSES = (200, 200, 200, 204, 301, 404, 500)
_REFERERS = ("-", "http://example.com/", "http://119.122.1.4/", "https://search.local/q")
_AGENTS = ("Mozilla/5.0 (X11; Linux x86_64)", "curl/8.4.0",
           "Mozilla/5.0 (Macintosh)", "Go-http-client/1.1")
_ACTIONS = ("allow", "allow", "deny", "drop")
_LEVELS = ("info", "info", "warn", "warning", "error", "debug")
_CODES = (200, 200, 201, 404, 500, 503)
_SVCS = ("api-1", "api-2", "auth", "billing", "search")
_MSGS = ("ok", "upstream_timeout", "cache_miss", "retrying", "conn_reset")


@dataclass(frozen=True)
class Truth:
    """What the pipeline must do with one line."""

    rule: str | None  # None: no rule matches (miss)
    disposition: str  # success | partial | miss
    status: int | None = None
    zone: str | None = None
    action: str | None = None
    site: str | None = None
    level: str | None = None
    code: int | None = None


# Sink name -> predicate over Truth, per workspace. Each mirrors the
# condition and `oml` selection in the workspace's topology/sinks files.
SINK_RULES = {
    "etl_fanout": {
        "web_all": lambda t: t.rule == NGINX,
        "web_err": lambda t: t.rule == NGINX and t.status >= 400,
        "web_dmz": lambda t: t.rule == NGINX and t.zone == "dmz",
        "dev_deny": lambda t: t.rule == DEVICE and t.action == "deny"
        and t.site is not None and t.site != "lab",
        "dev_all": lambda t: t.rule == DEVICE,
        "app_warn": lambda t: t.rule == APP
        and (t.level.startswith("warn") or t.code >= 500),
        "miss": lambda t: t.disposition == "miss",
        "residue": lambda t: t.disposition == "partial",
    },
    "parse_single": {
        "clf_all": lambda t: t.rule == CLF,
    },
    "stream_open": {
        "web_err": lambda t: t.rule == NGINX and t.status >= 400,
        "app_kv": lambda t: t.rule == APP,
        "miss": lambda t: t.disposition == "miss",
    },
}


def expected_counts(workload: str, truths) -> dict[str, int]:
    """Lines each sink must receive; sinks that receive none are left out,
    as ``Pipeline.write_batch`` leaves out sinks with no branch."""
    out = {}
    for sink, pred in SINK_RULES[workload].items():
        n = sum(1 for t in truths if pred(t))
        if n:
            out[sink] = n
    return out


# ---------------------------------------------------------------- KnowDB


def load_zones(ws_dir: str) -> list[tuple[int, int, str]]:
    """IP ranges sorted by ``lo``; they must not overlap, or one address
    would join to several rows."""
    with open(os.path.join(ws_dir, "knowdb", "ip_zone", "data.csv")) as fh:
        zones = sorted((int(r["lo"]), int(r["hi"]), r["zone"]) for r in csv.DictReader(fh))
    for (_, hi, _), (lo, _, _) in zip(zones, zones[1:]):
        if lo <= hi:
            raise ValueError("overlapping ip_zone ranges")
    return zones


def load_devices(ws_dir: str) -> dict[str, str]:
    """Device name -> site."""
    with open(os.path.join(ws_dir, "knowdb", "devices", "data.csv")) as fh:
        return {r["name"]: r["site"] for r in csv.DictReader(fh)}


def ip_int(ip: str) -> int:
    a, b, c, d = (int(x) for x in ip.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def zone_of(ip: str, zones) -> str | None:
    """Label of the range holding ``ip``, or None."""
    v = ip_int(ip)
    i = bisect.bisect_right(zones, (v, float("inf"))) - 1
    if i >= 0 and zones[i][0] <= v <= zones[i][1]:
        return zones[i][2]
    return None


# ------------------------------------------------------------ line shapes


def _clf_time(rng: random.Random) -> str:
    return (f"{rng.randint(1, 28):02d}/{rng.choice(_MONTHS)}/2024:"
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
            f"{rng.randint(0, 59):02d} +0800")


def _nginx(rng: random.Random, zones) -> tuple[str, Truth]:
    if rng.random() < 0.9:
        ip = f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    else:
        ip = f"192.168.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    status = rng.choice(_STATUSES)
    line = (f'{ip} - - [{_clf_time(rng)}] "{rng.choice(_METHODS)} '
            f'{rng.choice(_URIS)} HTTP/1.1" {status} {rng.randint(0, 999999)} '
            f'"{rng.choice(_REFERERS)}" "{rng.choice(_AGENTS)}" "-"')
    return line, Truth(NGINX, "success", status=status, zone=zone_of(ip, zones))


def _device(rng: random.Random, names: list[str], sites) -> tuple[str, Truth]:
    name = rng.choice(names)
    action = rng.choice(_ACTIONS)
    line = (f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)},"
            f"{rng.randint(1024, 65535)},{name},"
            f"172.16.{rng.randint(0, 255)}.{rng.randint(1, 254)},"
            f"{rng.choice((22, 80, 443, 8443))},"
            f'"2024-{rng.randint(1, 12)}-{rng.randint(1, 28)} '
            f'{rng.randint(0, 23)}:{rng.randint(0, 59)}:{rng.randint(0, 59)}",'
            f"act={action},{rng.randint(1000, 9999):04d}-{rng.randint(10, 99)}-"
            f"{rng.randint(1000, 9999)}-{rng.randint(1000, 9999)},"
            f'"{rng.choice(_METHODS)} {rng.choice(_URIS)} HTTP/1.1"')
    return line, Truth(DEVICE, "success", action=action, site=sites.get(name))


def _app(rng: random.Random) -> tuple[str, Truth]:
    level, code = rng.choice(_LEVELS), rng.choice(_CODES)
    line = (f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
            f"{rng.randint(0, 59):02d}Z {level} {rng.choice(_SVCS)} {code} "
            f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)} "
            f"{rng.choice(_MSGS)}")
    return line, Truth(APP, "success", level=level, code=code)


def _miss(rng: random.Random) -> tuple[str, Truth]:
    return (f"%% heartbeat {rng.randint(0, 10**6)} from collector-{rng.randint(0, 9)}",
            Truth(None, "miss"))


def _residue(rng: random.Random, zones) -> tuple[str, Truth]:
    """An nginx line with a short unparsed tail (under a fifth of the
    line), which the rule accepts as a partial match."""
    line, t = _nginx(rng, zones)
    return f"{line} tail{rng.randint(0, 99)}", Truth(
        NGINX, "partial", status=t.status, zone=t.zone)


def mixed_lines(seed: int, n: int, with_device: bool = True):
    """Lines of the multi-rule workloads: 2 % miss, 2 % residue, the rest
    nginx, device and app lines. Without devices (``stream_open``) the
    device share goes to nginx."""
    rng = random.Random(seed)
    ws = os.path.join(WORKSPACES, "etl_fanout")
    zones = load_zones(ws)
    sites = load_devices(ws)
    # six device names the KnowDB does not know: their lookups miss
    names = sorted(sites) + [f"fw-edge-{i}" for i in range(6)]
    lines, truths = [], []
    for _ in range(n):
        r = rng.random()
        if r < 0.02:
            line, t = _miss(rng)
        elif r < 0.04:
            line, t = _residue(rng, zones)
        elif r < 0.50 or (not with_device and r < 0.75):
            line, t = _nginx(rng, zones)
        elif r < 0.75:
            line, t = _device(rng, names, sites)
        else:
            line, t = _app(rng)
        lines.append(line)
        truths.append(t)
    return lines, truths


def clf_lines(seed: int, n: int):
    """Lines of ``parse_single``: the short CLF shape of ``_CLF_RULE``."""
    rng = random.Random(seed)
    lines = [
        f"10.0.{rng.randint(0, 255)}.{rng.randint(1, 254)} - - [{_clf_time(rng)}] "
        f'"GET /e/{rng.randint(0, 10**7)} HTTP/1.1" {rng.choice(_STATUSES)} '
        f"{rng.randint(0, 999999)}"
        for _ in range(n)
    ]
    return lines, [Truth(CLF, "success")] * n


def write_lines(path: str, lines) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def write_truth(path: str, truths) -> None:
    """One JSON object per line: the expected rule, disposition and
    routing fields, in input order."""
    with open(path, "w") as fh:
        for t in truths:
            fh.write(json.dumps(t.__dict__, separators=(",", ":")))
            fh.write("\n")


# ---------------------------------------------------- open-loop generator


def run_schedule(staged: list[str], dest: str, start: float, interval: float) -> list[dict]:
    """Rename ``staged[i]`` into ``dest`` at ``start + i * interval``
    (wall clock). The schedule never waits for the system under test."""
    out = []
    for i, src in enumerate(staged):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(src, os.path.join(dest, os.path.basename(src)))
        out.append({"file": os.path.basename(src), "due": due, "landed": time.time()})
    return out


def _main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--staged", required=True, help="directory of pre-written files")
    ap.add_argument("--dest", required=True, help="directory the stream watches")
    ap.add_argument("--start", type=float, required=True, help="epoch seconds of file 0")
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--report", required=True, help="JSON file of due/landed times")
    a = ap.parse_args(argv)
    staged = sorted(os.path.join(a.staged, f) for f in os.listdir(a.staged))
    report = run_schedule(staged, a.dest, a.start, a.interval)
    with open(a.report, "w") as fh:
        json.dump(report, fh)
    return 0


if __name__ == "__main__":
    sys.exit(_main(sys.argv[1:]))
