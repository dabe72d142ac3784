"""Benchmark of the raw-lines -> WPL -> OML/KnowDB -> sink pipeline.

    python3 perfbench/run.py --workload etl_fanout --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` and every sink count is checked against the
generator's ground truth. The last line of standard output is the result;
the line before it is the run record. With ``--trace 1`` the run records
spans around each layer call, writes them to ``.perfbench_work/`` and
reports per-layer metrics instead of end-to-end ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
from measure import median  # noqa: E402

# Setups per run; setup_s is their median.
SETUPS = 5
# Timed write_batch calls per batch run, at least. Past that, a call
# starts only if the last call's wall says it ends within the run.
MIN_CALLS = 2
# Batch workloads: input lines per write_batch call, and untimed warm-up
# calls on the first share of the input, so codegen and JIT settle before
# the clock starts. etl_fanout's calls are dominated by fixed costs per
# sink action, which one cold call on a slice settles; parse_single's by
# the parse loop, which JIT compiles over three full calls.
ETL_LINES, ETL_WARM = 2_000, (1, 0.2)
SINGLE_LINES, SINGLE_WARM = 200_000, (3, 1.0)
# Open loop of stream_open: one file of STREAM_FILE_LINES lines every
# STREAM_INTERVAL_S seconds for the run's seconds. A fixed trigger interval
# puts micro-batches on a regular grid, so a slow batch does not make the
# next one larger and slower in turn. Spark fires processing-time triggers
# at multiples of the interval since the epoch; the schedule starts half a
# file interval past a trigger, so in every run eight files land at the
# same points of each trigger period, none near its boundaries.
STREAM_FILE_LINES = 500
STREAM_INTERVAL_S = 0.375
STREAM_TRIGGER_S = 3
# How long delivery may lag the last file before files count as lost.
STREAM_DRAIN_S = 60.0

END_TO_END = {"setup_s": "s", "events_per_s": "1/s", "latency_p50_s": "s",
              "latency_p95_s": "s", "ok_ops_ratio": "ratio"}

MODELS = ("web", "device", "app", "clf")
SINKS = ("web_all", "web_err", "web_dmz", "dev_deny", "dev_all", "app_warn",
         "miss", "residue", "clf_all", "app_kv")
# metric stem -> progress durationMs key
STREAM_DURATIONS = {"trigger": "triggerExecution", "addBatch": "addBatch",
                    "queryPlanning": "queryPlanning", "walCommit": "walCommit"}
PER_LAYER = (
    {"session.start_s": "s", "config.load_s": "s", "knowdb.load_s": "s",
     "wpl.label_s": "s", "wpl.parse_s": "s"}
    | {f"oml.apply_s.{m}": "s" for m in MODELS}
    | {"knowdb.range_lookup_s": "s", "knowdb.equi_lookup_s": "s"}
    | {f"sinks.format_s.{s}": "s" for s in SINKS}
    | {"pipeline.plan_s": "s", "pipeline.jobs_per_batch": "count",
       "stream.source_reads_per_event": "ratio"}
    | {f"stream.{d}_s_p50": "s" for d in STREAM_DURATIONS}
    | {"stream.rows_per_batch_p50": "count", "stream.gen_late_max_s": "s"}
)


class BenchError(Exception):
    """The benchmark cannot run here."""


# ------------------------------------------------------------- session


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # no hsperfdata files in the system temp dir, from any JVM started
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))


def _force(df) -> None:
    """Evaluate every column of every row: a bare count() lets Catalyst
    prune the projections it is meant to time."""
    from pyspark.sql import functions as F

    df.select(F.max(F.xxhash64(*[F.col(c).cast("string") for c in df.columns]))).collect()


def _shutdown() -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Run:
    """One benchmark run: workspace, session, pipeline and their timings."""

    def __init__(self, workload: str, seed: int, seconds: int, tracer, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.work = work
        self.ws_dir = os.path.join(HERE, "workspaces", workload)
        self.spark = None
        self.pipe = None
        self.ws = None
        self.knowdb = None
        self.setup_walls: list[float] = []
        self.details: dict = {}
        # OML model -> "range" | "equi", for models with a KnowDB lookup
        self.lookups: dict[str, str] = {}

    def setup(self) -> None:
        """Start a session and load the workspace, ``SETUPS`` times. The
        first setup imports the program and launches the JVM; the others
        stop the session and start a new one in the same JVM."""
        kdb_dir = os.path.join(self.ws_dir, "knowdb")
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tr.span("setup"):
                from wp_motor_spark.config import build_pipeline, load_workspace
                from wp_motor_spark.knowdb import KnowDB
                from wp_motor_spark.session import get_spark

                with self.tr.span("session.start"):
                    self.spark = get_spark(app_name="perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
                self.knowdb = None
                if os.path.isdir(kdb_dir):
                    with self.tr.span("knowdb.load"):
                        self.knowdb = KnowDB(self.spark).load_csv_dir(kdb_dir)
                with self.tr.span("config.load"):
                    self.ws = load_workspace(self.ws_dir, out_root=os.path.join(self.work, "out"))
                    self.pipe, _ = build_pipeline(self.ws, knowdb=self.knowdb)
            self.setup_walls.append(time.perf_counter() - t0)

    # -------------------------------------------------- per-layer rounds

    def layer_round(self, raw) -> dict:
        """Time each layer once, forced, on ``raw``: each span wraps one
        call into a public function of the program."""
        import wp_motor_spark.pipeline as pl
        from pyspark.sql import functions as F

        from wp_motor_spark.oml.compiler import compile_oml

        tr, pipe = self.tr, self.pipe
        with tr.span("layers"):
            # pipeline.plan: assembly of every sink's plan, no action;
            # format_lines is observed to get each sink's filtered input
            captured = []
            real_format = pl.format_lines

            def recording_format(df, fmt="json", cols=None):
                out = real_format(df, fmt, cols)
                captured.append((df, fmt, out))
                return out

            pl.format_lines = recording_format
            try:
                with tr.span("pipeline.plan"):
                    res = pipe.run_batch(raw)
            finally:
                pl.format_lines = real_format
            with tr.span("wpl.label"):
                _force(pipe.parser.label(raw))
            with tr.span("wpl.parse"):
                parsed = pipe.parser.parse(raw)
                for df in parsed.values():
                    _force(df)
            held = []
            try:
                for key, df in parsed.items():
                    model = next((m for m in pipe.models if m.matches(key)), None)
                    if model is None:
                        continue
                    ok = df.where(F.col("_disposition").isin("success", "partial")).drop(
                        "_rule", "_disposition", "_residue").persist()
                    held.append(ok)
                    ok.count()
                    name = model.model.name
                    with tr.span(f"oml.apply.{name}"):
                        _force(model.apply(ok, self.knowdb))
                    text = self._oml_text(name)
                    if " select " in text:
                        # the same model without its lookup statement
                        bare = compile_oml("\n".join(
                            ln for ln in text.splitlines() if " select " not in ln))
                        self.lookups[name] = "range" if "ip4_between" in text else "equi"
                        with tr.span(f"oml.apply_bare.{name}"):
                            _force(bare.apply(ok, self.knowdb))
                by_out = {id(out): (df, fmt) for df, fmt, out in captured}
                for sink, lines in res.sink_lines.items():
                    if id(lines) not in by_out:
                        continue  # a union of several branches: not one format call
                    df, fmt = by_out[id(lines)]
                    src = df.persist()
                    held.append(src)
                    src.count()
                    with tr.span(f"sinks.format.{sink}"):
                        _force(real_format(src, fmt))
            finally:
                for df in held:
                    df.unpersist()
            return self.counted_write(raw)

    def counted_write(self, raw) -> dict:
        """write_batch in its own job group, counting the jobs it ran."""
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.tr.spans)}"
        sc.setJobGroup(group, "perfbench write_batch")
        try:
            with self.tr.span("pipeline.write_batch") as c:
                got = self.pipe.write_batch(raw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        c["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        return got

    def _oml_text(self, name: str) -> str:
        from wp_motor_spark.oml.compiler import compile_oml

        for text in self.ws.oml_texts:
            if compile_oml(text).model.name == name:
                return text
        raise BenchError(f"no OML model {name!r} in {self.ws_dir}")

    def layer_metrics(self) -> dict:
        """Per-layer metrics from the spans: medians of span durations,
        lookup cost as the difference a model's select line makes."""
        tr = self.tr
        out = {k: 0.0 for k in PER_LAYER}

        def med(name):
            d = tr.durations(name)
            return median(d) if d else 0.0

        out["session.start_s"] = med("session.start")
        out["config.load_s"] = med("config.load")
        out["knowdb.load_s"] = med("knowdb.load")
        out["wpl.label_s"] = med("wpl.label")
        out["wpl.parse_s"] = med("wpl.parse")
        out["pipeline.plan_s"] = med("pipeline.plan")
        for m in MODELS:
            out[f"oml.apply_s.{m}"] = med(f"oml.apply.{m}")
        for m, kind in self.lookups.items():
            out[f"knowdb.{kind}_lookup_s"] = med(f"oml.apply.{m}") - med(f"oml.apply_bare.{m}")
        for s in SINKS:
            out[f"sinks.format_s.{s}"] = med(f"sinks.format.{s}")
        jobs = tr.counts("pipeline.write_batch", "jobs")
        if jobs:
            out["pipeline.jobs_per_batch"] = median(jobs)
        return out


# ------------------------------------------------------------ workloads


def _batch_workload(run: Run, lines, truths, warm: tuple[int, float],
                    trace: bool) -> tuple[dict, int, int]:
    path = os.path.join(run.work, "input.log")
    gen.write_lines(path, lines)
    gen.write_truth(os.path.join(run.work, "truth.jsonl"), truths)
    expected = gen.expected_counts(run.workload, truths)
    run.setup()
    from wp_motor_spark.pipeline import read_lines

    raw = read_lines(run.spark, path)
    warm_calls, share = warm
    warm_raw = raw
    if share < 1:
        warm_path = os.path.join(run.work, "warm.log")
        gen.write_lines(warm_path, lines[:max(1, int(len(lines) * share))])
        warm_raw = read_lines(run.spark, warm_path)
    for _ in range(warm_calls):
        run.pipe.write_batch(warm_raw)
    walls, failed = [], 0
    deadline = time.perf_counter() + run.seconds
    if trace:
        while not walls or time.perf_counter() + walls[-1] <= deadline:
            t0 = time.perf_counter()
            failed += run.layer_round(raw) != expected
            walls.append(time.perf_counter() - t0)
        return run.layer_metrics(), len(walls), failed
    while len(walls) < MIN_CALLS or time.perf_counter() + walls[-1] <= deadline:
        t0 = time.perf_counter()
        got = run.pipe.write_batch(raw)
        walls.append(time.perf_counter() - t0)
        if got != expected:
            failed += 1
            run.details.setdefault("mismatch", {"expected": expected, "got": got})
    n = len(lines)
    # every line of a call waits for the whole call: one latency sample
    # per line, each call's wall weighted by its line count
    pairs = [(w, n) for w in walls]
    run.details.update(calls=len(walls), walls_s=walls, latency_samples=n * len(walls),
                       input_lines=n)
    metrics = {
        "setup_s": median(run.setup_walls),
        "events_per_s": n / median(walls),
        "latency_p50_s": measure.weighted_percentile(pairs, 50),
        "latency_p95_s": measure.weighted_percentile(pairs, 95),
        "ok_ops_ratio": (len(walls) - failed) / len(walls),
    }
    return metrics, len(walls), failed


def etl_fanout(run: Run, trace: bool):
    lines, truths = gen.mixed_lines(run.seed, ETL_LINES)
    return _batch_workload(run, lines, truths, ETL_WARM, trace)


def parse_single(run: Run, trace: bool):
    lines, truths = gen.clf_lines(run.seed, SINGLE_LINES)
    return _batch_workload(run, lines, truths, SINGLE_WARM, trace)


def _wait_committed(ckpt: str, files: list[str], deadline: float) -> dict[str, int]:
    """Poll until the batch of every file in ``files`` has committed."""
    while True:
        fb = measure.source_log_batches(ckpt)
        done = measure.committed_batches(ckpt)
        if all(fb.get(f) in done for f in files) or time.time() > deadline:
            return fb
        time.sleep(0.05)


def _job_mark(sc, name: str) -> int:
    """Run a one-task job and return its id: job ids are sequential, so
    two marks bound the jobs run between them."""
    sc.setJobGroup(name, name)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(name))


def stream_open(run: Run, trace: bool):
    n_files = max(1, round(run.seconds / STREAM_INTERVAL_S))
    # file 0 warms the stream up and is not measured
    lines, truths = gen.mixed_lines(run.seed, (n_files + 1) * STREAM_FILE_LINES,
                                    with_device=False)
    staged = os.path.join(run.work, "staged")
    in_dir = os.path.join(run.work, "in")
    ckpt = os.path.join(run.work, "ckpt")
    os.makedirs(staged)
    os.makedirs(in_dir)
    names, file_truth = [], {}
    for i in range(n_files + 1):
        name = f"part-{i:05d}.log"
        lo = i * STREAM_FILE_LINES
        gen.write_lines(os.path.join(staged, name), lines[lo:lo + STREAM_FILE_LINES])
        file_truth[name] = truths[lo:lo + STREAM_FILE_LINES]
        names.append(name)
    gen.write_truth(os.path.join(run.work, "truth.jsonl"), truths)
    run.setup()
    from wp_motor_spark.pipeline import stream_lines

    spark, pipe = run.spark, run.pipe
    sc = spark.sparkContext
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    calls: list[dict] = []
    write_batch = pipe.write_batch

    def counting_write(df, col="value"):
        got = write_batch(df, col)
        calls.append(got)
        return got

    pipe.write_batch = counting_write
    query = pipe.run_stream(stream_lines(spark, in_dir), checkpoint=ckpt,
                            trigger_seconds=STREAM_TRIGGER_S)
    gen_proc = None
    try:
        warm = names[0]
        os.rename(os.path.join(staged, warm), os.path.join(in_dir, warm))
        _wait_committed(ckpt, [warm], time.time() + 120)
        mark0 = _job_mark(sc, "perfbench-mark-0")
        report = os.path.join(run.work, "schedule.json")
        start = ((time.time() + 0.5) // STREAM_TRIGGER_S + 1) * STREAM_TRIGGER_S \
            + STREAM_INTERVAL_S / 2
        gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--staged", staged,
             "--dest", in_dir, "--start", repr(start),
             "--interval", str(STREAM_INTERVAL_S), "--report", report])
        rc = gen_proc.wait(timeout=n_files * STREAM_INTERVAL_S + 60)
        if rc != 0:
            raise BenchError(f"stream generator exited with {rc}")
        with open(report) as fh:
            schedule = json.load(fh)
        gave_up = time.time() + STREAM_DRAIN_S
        file_batch = _wait_committed(ckpt, names, gave_up)
        # the progress report of a batch is posted just after its commit
        while True:
            progress = [json.loads(p.json) for p in query.recentProgress]
            reported = {p["batchId"] for p in progress if p.get("numInputRows")}
            if set(file_batch.values()) <= reported or time.time() > gave_up:
                break
            time.sleep(0.05)
        gave_up = min(gave_up, time.time())
    finally:
        if gen_proc is not None and gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        query.stop()
    mark1 = _job_mark(sc, "perfbench-mark-1")
    pipe.write_batch = write_batch

    finish = measure.batch_finish_times(progress)
    lat, lost = measure.file_latencies(schedule, file_batch, finish)
    # a lost file misses every latency limit: it counts with the time
    # waited for it, a lower bound
    lat += [gave_up - f["due"] for f in schedule if f["file"] in lost]
    # every line of a file shares the file's due time and batch
    pairs = [(v, STREAM_FILE_LINES) for v in lat]
    samples = len(lat) * STREAM_FILE_LINES
    # per-batch sink counts against the truth of the files it read; the
    # i-th write_batch call served the i-th batch that read files
    batch_files: dict[int, list[str]] = {}
    for f, b in file_batch.items():
        batch_files.setdefault(b, []).append(f)
    bad: set[str] = set(lost)
    for got, b in zip(calls, sorted(batch_files)):
        exp = gen.expected_counts(
            "stream_open", [t for f in batch_files[b] for t in file_truth[f]])
        if got != exp:
            bad.update(batch_files[b])
    if len(calls) != len(batch_files):
        bad.update(f for f in names[1:] if f not in lost)
    measured = [f["file"] for f in schedule]
    failed = sum(1 for f in measured if f in bad)
    late = [f["landed"] - f["due"] for f in schedule]
    run.details.update(files=len(measured), latency_samples=samples, lost=len(lost),
                       batches=len(batch_files) - 1, gen_late_max_s=max(late),
                       supported_percentile=measure.supported_percentile(samples))
    if trace:
        warm_batch = file_batch.get(warm)
        batches = [p for p in progress if p.get("numInputRows") and p["batchId"] != warm_batch]
        offered = len(measured) * STREAM_FILE_LINES
        layers = {
            "pipeline.jobs_per_batch": (mark1 - mark0 - 1) / max(1, len(batches)),
            "stream.source_reads_per_event": sum(p["numInputRows"] for p in batches) / offered,
            "stream.rows_per_batch_p50": median(
                [len(batch_files[p["batchId"]]) * STREAM_FILE_LINES for p in batches]),
            "stream.gen_late_max_s": max(late),
        }
        for stem, key in STREAM_DURATIONS.items():
            layers[f"stream.{stem}_s_p50"] = median(
                [p["durationMs"].get(key, 0) / 1000.0 for p in batches])
        # layers timed on the files of the first measured micro-batch
        from wp_motor_spark.pipeline import read_lines

        first = batch_files[min(p["batchId"] for p in batches)]
        run.layer_round(read_lines(spark, [os.path.join(in_dir, f) for f in first]))
        metrics = run.layer_metrics()
        metrics.update(layers)  # jobs per micro-batch, not per batch call
        return metrics, len(measured), failed
    span = max(finish.values()) - schedule[0]["due"]
    metrics = {
        "setup_s": median(run.setup_walls),
        "events_per_s": (len(measured) - len(lost)) * STREAM_FILE_LINES / span,
        "latency_p50_s": measure.weighted_percentile(pairs, 50),
        "latency_p95_s": measure.weighted_percentile(pairs, 95),
        "ok_ops_ratio": (len(measured) - failed) / len(measured),
    }
    return metrics, len(measured), failed


WORKLOADS = {"etl_fanout": etl_fanout, "parse_single": parse_single,
             "stream_open": stream_open}


# ----------------------------------------------------------------- main


def _versions() -> dict:
    import pyspark
    from pyspark.sql import SparkSession

    out = {"spark": pyspark.__version__}
    spark = SparkSession.getActiveSession()
    if spark is not None:
        out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "wp_motor_spark")):
        print("perfbench: run from the root of a checkout holding wp_motor_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    root = os.path.join(os.getcwd(), ".perfbench_work")
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(root, run_id)
    os.makedirs(work)
    _prepare_env(work)
    load_before = os.getloadavg()
    tracer = measure.Tracer(run_id, enabled=bool(args.trace))
    run = Run(args.workload, args.seed, args.seconds, tracer, work)
    try:
        metrics, attempted, failed = WORKLOADS[args.workload](run, bool(args.trace))
        versions = _versions()
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    record = {
        **measure.host_record(), **versions, "workload": args.workload,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "setup_walls_s": run.setup_walls, **run.details,
    }
    if args.trace:
        record["spans"] = os.path.join(".perfbench_work", f"{run_id}.spans.jsonl")
        tracer.dump(os.path.join(root, f"{run_id}.spans.jsonl"))
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, ImportError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
