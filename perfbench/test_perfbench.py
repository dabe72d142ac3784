"""Tests of the benchmark's own code, at tiny sizes and without Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure  # noqa: E402


# ------------------------------------------------------ percentile rule


@pytest.mark.parametrize("n, want", [
    (10, None), (19, None), (20, 50), (39, 50), (40, 75), (100, 90),
    (199, 90), (200, 95), (999, 95), (1000, 99), (10_000, 99.9),
])
def test_supported_percentile_keeps_ten_samples_beyond(n, want):
    assert measure.supported_percentile(n) == want


def test_nearest_rank_percentile():
    xs = list(range(1, 201))  # 1..200
    assert measure.percentile(xs, 50) == 100
    assert measure.percentile(xs, 95) == 190
    assert measure.percentile([3.0], 95) == 3.0


def test_weighted_percentile_counts_each_line_of_a_call():
    # three calls of 100 lines: 95 % of 300 samples falls in the slowest
    pairs = [(2.0, 100), (1.0, 100), (3.0, 100)]
    assert measure.weighted_percentile(pairs, 50) == 2.0
    assert measure.weighted_percentile(pairs, 95) == 3.0
    assert measure.weighted_percentile(pairs, 66) == 2.0
    assert measure.weighted_percentile(pairs, 67) == 3.0


def test_median():
    assert measure.median([3, 1, 2]) == 2
    assert measure.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        measure.median([])


# ------------------------------------------- files -> micro-batches


def _write_log(path, entries, header="v1"):
    with open(path, "w") as fh:
        fh.write(header + "\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def test_source_log_maps_files_to_batches(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (tmp_path / "commits").mkdir()
    _write_log(log / "0", [{"path": "file:///in/part-00000.log", "timestamp": 1, "batchId": 0}])
    _write_log(log / "1", [{"path": "file:///in/part-00001.log", "timestamp": 1, "batchId": 1},
                           {"path": "file:///in/part-00002.log", "timestamp": 1, "batchId": 1}])
    # a compacted log repeats earlier batches' entries under their own ids
    _write_log(log / "2.compact", [
        {"path": "file:///in/part-00000.log", "timestamp": 1, "batchId": 0},
        {"path": "file:///in/part-00003.log", "timestamp": 1, "batchId": 2}])
    (tmp_path / "commits" / "0").write_text("v1\n{}\n")
    (tmp_path / "commits" / "1").write_text("v1\n{}\n")
    (tmp_path / "commits" / ".1.crc").write_text("")
    assert measure.source_log_batches(str(tmp_path)) == {
        "part-00000.log": 0, "part-00001.log": 1, "part-00002.log": 1, "part-00003.log": 2}
    assert measure.committed_batches(str(tmp_path)) == {0, 1}
    assert measure.source_log_batches(str(tmp_path / "none")) == {}


def test_latency_is_batch_finish_minus_due_time():
    progress = [
        {"batchId": 4, "numInputRows": 800, "timestamp": "2026-01-01T00:00:10.000Z",
         "durationMs": {"triggerExecution": 1500}},
        # a trigger that read nothing reports no batch
        {"batchId": 5, "numInputRows": 0, "timestamp": "2026-01-01T00:00:12.000Z",
         "durationMs": {"triggerExecution": 3}},
        {"batchId": 5, "numInputRows": 400, "timestamp": "2026-01-01T00:00:12.000Z",
         "durationMs": {"triggerExecution": 2000}},
    ]
    t0 = measure._epoch("2026-01-01T00:00:00Z")
    finish = measure.batch_finish_times(progress)
    assert finish == {4: pytest.approx(t0 + 11.5), 5: pytest.approx(t0 + 14.0)}
    schedule = [{"file": "a", "due": t0 + 9.0}, {"file": "b", "due": t0 + 11.0},
                {"file": "c", "due": t0 + 13.0}]
    lat, lost = measure.file_latencies(schedule, {"a": 4, "b": 5}, finish)
    assert lat == [pytest.approx(2.5), pytest.approx(3.0)]
    assert lost == ["c"]


# ---------------------------------------------------------------- spans


def test_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0])
    monkeypatch.setattr(measure.time, "perf_counter", lambda: next(clock))
    tr = measure.Tracer("r", enabled=True)
    with tr.span("root"):
        with tr.span("a"):
            pass
        with tr.span("b") as c:
            c["jobs"] = 7
    root, a, b = tr.spans
    assert a["parent"] == b["parent"] == root["id"] and root["parent"] is None
    assert {s["run"] for s in tr.spans} == {"r"}
    assert tr.self_times() == {0: 6.0, 1: 2.0, 2: 2.0}
    assert tr.counts("b", "jobs") == [7]


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer("r", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_records_with_other_core_counts_are_not_compared():
    a = {"nproc": 4, "spark_graft_cpus": "4"}
    assert measure.comparable(a, dict(a)) is None
    assert "nproc" in measure.comparable(a, {**a, "nproc": 8})
    assert "spark_graft_cpus" in measure.comparable(a, {**a, "spark_graft_cpus": "2"})


# --------------------------------------------------------- ground truth


def test_ground_truth_counts_for_a_fixed_seed():
    lines, truths = gen.mixed_lines(7, 500)
    assert len(lines) == len(truths) == 500
    assert gen.mixed_lines(7, 500) == (lines, truths)  # same seed, same inputs
    assert gen.expected_counts("etl_fanout", truths) == {
        "web_all": 264, "web_err": 77, "web_dmz": 42, "dev_deny": 21,
        "dev_all": 118, "app_warn": 62, "miss": 7, "residue": 12}


def test_truth_matches_line_shape():
    lines, truths = gen.mixed_lines(3, 300)
    zones = gen.load_zones(os.path.join(gen.WORKSPACES, "etl_fanout"))
    for line, t in zip(lines, truths):
        if t.disposition == "miss":
            assert line.startswith("%% heartbeat")
        elif t.rule == gen.NGINX:
            ip = line.split(" ", 1)[0]
            assert t.zone == gen.zone_of(ip, zones)
            assert f'" {t.status} ' in line
            assert line.endswith('"-"') == (t.disposition == "success")
        elif t.rule == gen.DEVICE:
            assert f",act={t.action}," in line
        else:
            assert f" {t.level} " in line and f" {t.code} " in line


def test_zone_lookup_uses_range_bounds():
    zones = [(10, 19, "a"), (30, 39, "b")]
    assert gen.zone_of("0.0.0.10", zones) == "a"
    assert gen.zone_of("0.0.0.19", zones) == "a"
    assert gen.zone_of("0.0.0.20", zones) is None
    assert gen.zone_of("0.0.0.39", zones) == "b"
    assert gen.zone_of("0.0.0.9", zones) is None


def test_stream_mix_has_no_device_lines():
    _, truths = gen.mixed_lines(1, 400, with_device=False)
    assert not any(t.rule == gen.DEVICE for t in truths)
    counts = gen.expected_counts("stream_open", truths)
    assert set(counts) == {"web_err", "app_kv", "miss"}


def test_schedule_renames_in_order(tmp_path):
    staged, dest = tmp_path / "staged", tmp_path / "dest"
    staged.mkdir()
    dest.mkdir()
    for i in range(3):
        (staged / f"part-{i}.log").write_text("x\n")
    start = measure.time.time()
    report = gen.run_schedule(sorted(str(p) for p in staged.iterdir()), str(dest), start, 0.01)
    assert [r["file"] for r in report] == ["part-0.log", "part-1.log", "part-2.log"]
    assert [r["due"] for r in report] == [start, start + 0.01, start + 0.02]
    assert all(r["landed"] >= r["due"] for r in report)
    assert sorted(os.listdir(dest)) == ["part-0.log", "part-1.log", "part-2.log"]


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_names_what_run_py_reports():
    import run

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
