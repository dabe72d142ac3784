"""Statistics, stream latency math, spans and the run record.

Nothing here imports Spark, so the tests run without a session.
"""

from __future__ import annotations

import json
import math
import os
import platform
import subprocess
import time
from contextlib import contextmanager
from datetime import datetime

# Percentiles the benchmark may report, in per mille, highest last.
_PER_MILLE = (500, 750, 900, 950, 990, 999)


def supported_percentile(n: int) -> float | None:
    """The highest reportable percentile with at least ten of ``n``
    samples beyond it, or None when not even the median has."""
    best = None
    for pm in _PER_MILLE:
        if n * (1000 - pm) >= 10 * 1000:
            best = pm / 10
    return best


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    return weighted_percentile([(v, 1) for v in samples], p)


def weighted_percentile(pairs, p: float) -> float:
    """Nearest-rank percentile of (value, weight) pairs, each value
    standing for ``weight`` equal samples."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100 * total))
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def median(samples) -> float:
    """The middle sample, the mean of the two middle ones for an even
    count."""
    s = sorted(samples)
    if not s:
        raise ValueError("no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


# ------------------------------------------------------ stream latency


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    under ``<checkpoint>/sources/0``. Each log file holds a version line
    and one JSON entry per file; compacted files hold the entries of every
    batch up to theirs, so the batch id is read from the entry."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def committed_batches(checkpoint: str) -> set[int]:
    """Ids of the micro-batches whose commit log entry exists."""
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_finish_times(progress: list[dict]) -> dict[int, float]:
    """Batch id -> epoch seconds when the batch finished: the progress
    ``timestamp`` (trigger start) plus ``durationMs.triggerExecution``.
    Progress reports of triggers that read nothing are skipped."""
    out = {}
    for p in progress:
        if not p.get("numInputRows"):
            continue
        out[int(p["batchId"])] = _epoch(p["timestamp"]) + (
            p["durationMs"]["triggerExecution"] / 1000.0)
    return out


def file_latencies(schedule: list[dict], file_batch: dict[str, int],
                   finish: dict[int, float]) -> tuple[list[float], list[str]]:
    """Latency of each offered file, from when it was due to when the
    micro-batch that read it finished, and the files never delivered."""
    lat, lost = [], []
    for f in schedule:
        b = file_batch.get(f["file"])
        if b is None or b not in finish:
            lost.append(f["file"])
        else:
            lat.append(finish[b] - f["due"])
    return lat, lost


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory: name, start, end, parent span and run id,
    plus counts recorded at the same boundary. Disabled, it records
    nothing and costs one branch per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counts(self, name: str, key: str) -> list[float]:
        return [s["counts"][key] for s in self.spans
                if s["name"] == name and key in s["counts"]]

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


# ----------------------------------------------------------- run record


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def _mem_total_kib() -> int | None:
    for line in (_read("/proc/meminfo") or "").splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return None


def _git_sha() -> str | None:
    """HEAD of the checkout, or None outside a git work tree."""
    if not os.path.isdir(".git"):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def host_record() -> dict:
    """What the host looked like: cores, memory limits, load."""
    return {
        "git_sha": _git_sha(),
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "mem_total_kib": _mem_total_kib(),
        "cgroup_memory_max": _read("/sys/fs/cgroup/memory.max")
        or _read("/sys/fs/cgroup/memory/memory.limit_in_bytes"),
        "python": platform.python_version(),
    }


def comparable(a: dict, b: dict) -> str | None:
    """Why two run records may not be compared, or None if they may."""
    for key in ("nproc", "spark_graft_cpus"):
        if a.get(key) != b.get(key):
            return f"{key} differs: {a.get(key)} vs {b.get(key)}"
    return None
