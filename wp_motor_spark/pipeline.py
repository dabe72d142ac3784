"""End-to-end pipeline: sources -> WPL parse -> OML transform (+KnowDB)
-> sink routing -> formatted outputs.

Mirrors the reference lifecycle (SURVEY.md §3.1, src/orchestrator/engine/
service.rs + src/sinks/routing/dispatcher/oml.rs) as ONE declarative Spark
plan per sink:

    raw lines -> MultiParser first-match cascade -> per-rule branch
      -> OML model selected by rule key (model.rs:96-111)
      -> per-sink condition filter (oml.rs:351-363)
      -> formatter -> append text

Infra side-channels (tests/instance/topology/sinks/infra.d/): miss
(WPL-unmatched), residue (partial tails), error (empty OML output),
default (no OML model matched). Everything is map-only + broadcast joins:
at 100TB each branch is an independent column-pruned scan of the same
source. Nothing is persisted: every sink's action re-reads and re-parses
the source (the deterministic wp_event_id keeps records aligned across
those passes).

Batch and streaming share the plan: `run_stream` wraps the same batch
assembly in foreachBatch (the reference's daemon mode).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from wp_motor_spark.conditions import compile_condition
from wp_motor_spark.oml.compiler import OmlTransform, compile_oml
from wp_motor_spark.sinks.formats import format_lines
from wp_motor_spark.sinks.spec import SinkSpec
from wp_motor_spark.wpl.compiler import MultiParser


def _event_uuid(col: str | None, src_key: str | None):
    """Deterministic per-event UUID column (uuid-v4 shaped).

    md5(payload, src_key, monotonically_increasing_id) — all three inputs
    are stable across plan re-executions for batch file scans, so every
    action (each sink write, count, residue/monitor branch) sees the SAME
    id for the same record, unlike F.expr("uuid()") which is re-drawn per
    evaluation. Mirrors the reference's one-PkgID-per-SourceEvent contract
    (src/core/parser/wpl_engine/processor.rs:143-150).
    """
    parts = [F.monotonically_increasing_id().cast("string"),
             F.lit(src_key or "")]
    if col is not None:
        parts.insert(0, F.col(col))
    # unit-separator keeps the hash input injective: ("req4", id 12)
    # and ("req41", id 2) must not concatenate to the same bytes
    h = F.md5(F.concat_ws("\x1f", *parts))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("4"), F.substring(h, 14, 3)),
        F.concat(F.lit("8"), F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def _model_selected(globs: list[str], model_name: str) -> bool:
    import fnmatch

    if not globs:
        return False  # e.g. the monitor group: oml = []
    return any(fnmatch.fnmatch(model_name, g) for g in globs)


@dataclass
class PipelineResult:
    """Named output branches (pre-format) + formatted line DataFrames."""

    branches: dict[str, DataFrame] = field(default_factory=dict)
    sink_lines: dict[str, DataFrame] = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        return {k: v.count() for k, v in self.sink_lines.items()}


class Pipeline:
    def __init__(
        self,
        wpl: str,
        omls: list[str] | None = None,
        sinks: list[SinkSpec] | None = None,
        knowdb=None,
        tags: dict[str, str] | None = None,
        rescue_dir: str | None = None,
        src_key: str | None = None,
        robust: str = "normal",
    ):
        self.parser = MultiParser(wpl)
        # disabled models (`enable : false` header) are skipped at load
        # time (resources/core/manager/loading.rs:50-53)
        self.models: list[OmlTransform] = [
            m for m in (compile_oml(t) for t in (omls or [])) if m.model.enable
        ]
        # None = caller configured nothing -> default memory sink;
        # an explicit [] means NO delivery (engine.rs skip_sink)
        self.sinks = (
            [SinkSpec(name="default", kind="memory")] if sinks is None else list(sinks)
        )
        self.knowdb = knowdb
        self.tags = tags or {}
        # failed sink writes spool here as RescueEntry JSONL for wprescue
        # (src/sinks/rescue.rs); None = fail fast, no rescue
        self.rescue_dir = rescue_dir
        # source identifier for the wp_src_key mechanism field
        # (09-metadata.md; SourceEvent.src_key)
        self.src_key = src_key
        # error-handling strategy (conf robust = debug|normal|strict,
        # wp-error ErrorHandlingStrategy via sys_robust_mode):
        #   strict -> a failing sink write fails the batch even with a
        #             rescue spool configured (Terminate)
        #   normal -> rescue when configured, else raise (FixRetry-ish)
        #   debug  -> tolerate: log + continue, rescuing when possible
        self.robust = robust

    # ------------------------------------------------------------- assembly

    def _model_for(self, rule_key: str) -> OmlTransform | None:
        for m in self.models:  # first match wins (dispatcher/oml.rs:59-70)
            if m.matches(rule_key):
                return m
        return None

    def transform(self, raw: DataFrame, col: str = "value") -> dict[str, DataFrame]:
        """Raw lines -> named branches: one per rule (transformed), plus
        miss/residue/default/error side-channels."""
        # mechanism metadata: ONE wp_event_id per SourceEvent, assigned at
        # ingest (processor.rs:143-150) and DETERMINISTIC — uuid() would be
        # re-evaluated on every action (each sink write, count, residue
        # branch), giving the same record a different id per channel and
        # defeating cross-channel correlation. Derive it from the payload +
        # src_key + partition-stable row id instead; it then flows through
        # parse() like any other extra input column.
        if "wp_event_id" not in raw.columns:
            raw = raw.withColumn("wp_event_id", _event_uuid(col, self.src_key))
        parsed = self.parser.parse(raw, col)
        branches: dict[str, DataFrame] = {}
        residue_parts: list[DataFrame] = []
        self._branch_model: dict[str, str] = {}  # branch -> OML model name
        for key, df in parsed.items():
            if key == "__miss__":
                branches["miss"] = df
                continue
            ok = df.where(F.col("_disposition").isin("success", "partial"))
            # source tags: constant fields, only if absent (processor.rs:70-100)
            for k, v in self.tags.items():
                if k not in ok.columns:
                    ok = ok.withColumn(k, F.lit(v))
            # mechanism metadata (09-metadata.md): wp_event_id per record,
            # wp_src_key from the source identifier, wp_src_ip passthrough
            # (net sources attach it; file sources have no upstream peer).
            # Declared only-if-absent; unused ones die in column pruning.
            if "wp_event_id" not in ok.columns:  # belt-and-braces: set at ingest
                ok = ok.withColumn(
                    "wp_event_id",
                    _event_uuid(col if col in ok.columns else None, self.src_key),
                )
            if "wp_src_key" not in ok.columns:
                ok = ok.withColumn(
                    "wp_src_key",
                    F.lit(self.src_key) if self.src_key else F.lit(None).cast("string"),
                )
            if "wp_src_ip" not in ok.columns:
                ok = ok.withColumn("wp_src_ip", F.lit(None).cast("string"))
            # partial-match tails -> residue channel (processor.rs:35-49)
            residue_parts.append(
                ok.where(F.col("_disposition") == "partial").select(
                    F.lit(key).alias("rule"), F.col("_residue").alias("value")
                )
            )
            model = self._model_for(key)
            if model is None:
                # every model-less rule's rows reach the default sink — the
                # reference routes ALL unmatched records there, not just the
                # first rule's (processor.rs default-channel semantics)
                branches["default"] = (
                    branches["default"].unionByName(ok, allowMissingColumns=True)
                    if "default" in branches
                    else ok
                )
                continue
            out = model.apply(ok.drop("_rule", "_disposition", "_residue"), self.knowdb)
            if out.columns == ["__err_kind"]:
                branches["error"] = out
            else:
                branches[key] = out
                self._branch_model[key] = model.model.name
        if residue_parts:
            res = residue_parts[0]
            for r in residue_parts[1:]:
                res = res.unionByName(r)
            branches["residue"] = res.where(F.length("value") > 0)
        return branches

    def monitor(self, raw: DataFrame, col: str = "value") -> DataFrame:
        """Parse-stage stats: counts per (rule, disposition) — the monitor
        sink's report rows (crates/wp-stats; stat_report.rs). One labeled
        scan, one aggregation."""
        labeled = self.parser.label(raw, col)
        return (
            labeled.groupBy(
                F.coalesce(F.col("_rule"), F.lit("<none>")).alias("rule"),
                F.col("_disposition").alias("disposition"),
            )
            .agg(F.count(F.lit(1)).alias("total"))
            .withColumn("stage", F.lit("parse"))
        )

    # ---------------------------------------------------------------- batch

    def run_batch(self, raw: DataFrame, col: str = "value") -> PipelineResult:
        """Assemble every sink's formatted output. Data branches fan out to
        all sinks whose condition matches (oml.rs:351-363); infra channels
        (miss/residue/error) go to same-named sinks when declared."""
        result = PipelineResult(branches=self.transform(raw, col))
        # intercept was REMOVED from the infra set entirely
        # (infrastructure.rs:107 "intercept 组彻底移除", constants.rs
        # INFRA_GROUPS, orchestrator/constants/tests.rs:42): a sink named
        # "intercept" is an ordinary business sink and joins the
        # condition fan-out like any other name
        infra = {"miss", "residue", "error", "default", "monitor"}
        data_branches = {k: v for k, v in result.branches.items() if k not in infra}
        for spec in self.sinks:
            if spec.name in infra:
                src = result.branches.get(spec.name)
                if src is not None:
                    result.sink_lines[spec.name] = format_lines(
                        src, spec.format if spec.format != "json" or spec.name != "miss" else "raw"
                    )
                continue
            parts = []
            for key, df in data_branches.items():
                # sink groups select which OML models feed them
                # (sink.toml `oml = [...]`, dispatcher/oml.rs:59-70)
                model_name = getattr(self, "_branch_model", {}).get(key, "")
                if not _model_selected(spec.models, model_name):
                    continue
                # rule-key selection (route file `rule = [...]`; branches
                # are keyed by WPL rule, so the glob applies directly)
                if not _model_selected(spec.rules, key):
                    continue
                sub = df
                if spec.condition:
                    cond = compile_condition(spec.condition, df.columns)
                    sub = df.where(cond if spec.filter_expect else ~cond)
                # sink-level tags inject into every record THIS sink
                # routes (dispatcher append_pre_tags; other sinks of the
                # same record stay untouched — the dispatcher fast-path
                # test pins that shape)
                for tk, tv in (spec.tags or {}).items():
                    sub = sub.withColumn(tk, F.lit(tv))
                parts.append(format_lines(sub, spec.format))
            if parts:
                lines = parts[0]
                for p in parts[1:]:
                    lines = lines.unionByName(p)
                result.sink_lines[spec.name] = lines
        return result

    def _write_sink(self, spec: SinkSpec, lines: DataFrame) -> None:
        """One sink write (no rescue handling — the caller wraps)."""
        if spec.kind == "file" and spec.path:
            lines.write.mode("append").text(spec.path)
        elif spec.kind == "test_rescue":
            # failure-injection file sink (backends/test_rescue.rs): fails
            # while its health marker is down
            from wp_motor_spark.sinks import rescue as rsc

            rsc.write_or_raise(lines, spec.path)
        elif spec.kind == "kafka":
            from wp_motor_spark.sources.kafka import sink_options

            (
                lines.selectExpr("CAST(line AS STRING) AS value")
                .write.format("kafka")
                .options(**sink_options(spec.options))
                .save()
            )
        elif spec.kind == "tcp":
            from wp_motor_spark.sinks.net import write_tcp

            write_tcp(
                lines,
                spec.options.get("host", "127.0.0.1"),
                int(spec.options["port"]),
                framing=spec.options.get("framing", "newline"),
            )
        elif spec.kind == "syslog":
            from wp_motor_spark.sinks.net import write_syslog

            write_syslog(
                lines,
                spec.options.get("host", "127.0.0.1"),
                int(spec.options["port"]),
                proto=spec.options.get("proto", "udp"),
            )
        elif spec.kind == "victorialogs":
            from wp_motor_spark.sinks.victorialogs import write_victorialogs

            write_victorialogs(
                lines,
                endpoint=spec.options.get("endpoint", ""),
                insert_path=spec.options.get("insert_path", "/insert/json"),
                create_time_col=spec.options.get("create_time_field"),
            )
        elif spec.kind == "blackhole":
            lines.write.format("noop").mode("append").save()

    def write_batch(self, raw: DataFrame, col: str = "value") -> dict[str, int]:
        """Run and append to each sink's destination; returns line counts.

        With ``rescue_dir`` set, a failing sink write spools its formatted
        lines as RescueEntry JSONL instead of failing the batch
        (src/sinks/rescue.rs); ``replay_rescue`` re-delivers them."""
        res = self.run_batch(raw, col)
        counts: dict[str, int] = {}
        for spec in self.sinks:
            lines = res.sink_lines.get(spec.name)
            if lines is None:
                continue
            try:
                self._write_sink(spec, lines)
            except Exception as exc:
                if self.robust == "strict":
                    raise  # Terminate: no rescue masks a failing sink
                if self.rescue_dir is not None:
                    from wp_motor_spark.sinks import rescue as rsc

                    rsc.rescue_lines(lines, self.rescue_dir, spec.name)
                elif self.robust != "debug":
                    raise
                else:
                    # debug tolerates the loss but must leave a trace —
                    # silent drops are undebuggable
                    import logging

                    logging.getLogger(__name__).warning(
                        "sink %s write failed (robust=debug, no rescue "
                        "spool — lines dropped): %s", spec.name, exc
                    )
                counts[spec.name] = 0
                continue
            counts[spec.name] = lines.count()
        return counts

    def replay_rescue(
        self, spark: SparkSession, speed_limit: int | None = None
    ) -> dict[str, int]:
        """wprescue flow (05-wprescue.md): read every sink's rescue spool,
        re-deliver to the configured sink, drain the spool on success.
        Still-failing sinks keep their spool for the next run.

        ``speed_limit`` (lines/sec, 0/None = unlimited) is the reference's
        rescue throttle (wparse.toml [rescue] speed_limit; the recover
        TaskController in src/runtime/collector/recovery/mod.rs): the spool
        is re-delivered file-by-file (each failed batch wrote its own part
        files), sleeping between files so the average rate stays at or
        under the limit — a recovering downstream must not be re-flooded
        by the backlog. Partial-failure semantics are unchanged: a failing
        file leaves the WHOLE spool for the next run (at-least-once, same
        flush-interval window as the reference)."""
        import time as _time

        from pyspark.sql import Observation

        from wp_motor_spark.sinks import rescue as rsc

        if self.rescue_dir is None:
            return {}
        by_name = {s.name: s for s in self.sinks}
        counts: dict[str, int] = {}
        for name in rsc.pending_sinks(self.rescue_dir):
            spec = by_name.get(name)
            if spec is None:
                continue  # no routing for this spool; leave it in place
            if not speed_limit:
                lines = rsc.read_rescued(spark, self.rescue_dir, name)
                try:
                    self._write_sink(spec, lines)
                except Exception:
                    continue  # still unhealthy; retry on the next wprescue
                counts[name] = lines.count()
                rsc.drain(self.rescue_dir, name)
                continue
            delivered = 0
            t0 = _time.monotonic()
            failed = False
            for path in rsc.spool_files(self.rescue_dir, name):
                obs = Observation()
                lines = rsc.decode_entries(spark.read.text(path)).observe(
                    obs, F.count(F.lit(1)).alias("n")
                )
                try:
                    self._write_sink(spec, lines)
                except Exception:
                    failed = True
                    break  # keep the spool; next run re-delivers it all
                delivered += int(obs.get["n"])
                # token-bucket pacing at file granularity: sleep until
                # delivered/limit seconds have elapsed overall
                wait = delivered / speed_limit - (_time.monotonic() - t0)
                if wait > 0:
                    _time.sleep(wait)
            if not failed:
                counts[name] = delivered
                rsc.drain(self.rescue_dir, name)
        return counts

    # ------------------------------------------------------------ streaming

    def run_stream(
        self,
        stream: DataFrame,
        col: str = "value",
        checkpoint: str | None = None,
        trigger_seconds: int | None = None,
    ):
        """Daemon mode: the same batch assembly inside foreachBatch.

        Rate limiting (`speed_limit` rps, service.rs:52) maps to trigger
        options (maxFilesPerTrigger / maxOffsetsPerTrigger on the reader);
        delivery is Structured Streaming checkpointed (stronger than the
        reference's best-effort + rescue files)."""

        def process(batch_df: DataFrame, batch_id: int) -> None:
            self.write_batch(batch_df, col)

        writer = stream.writeStream.foreachBatch(process)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()


# ------------------------------------------------------------------ helpers


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """File source, batch (src/sources/file/source.rs): line-wise text."""
    return spark.read.text(path)


def stream_lines(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File source, streaming: offsets == Spark file-stream checkpoints."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)
