"""Stats subsystem tests: windowed counters, streaming form, alerting,
pipeline monitor channel."""

import datetime

from pyspark.sql import functions as F

from conftest import example_simple
from wp_motor_spark.operators.stats import (
    alert,
    streaming_windowed_counts,
    windowed_counts,
)


def _events(spark):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + datetime.timedelta(seconds=i), "a" if i % 3 else "b", float(i % 10))
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "ts timestamp, kind string, v double")


def test_windowed_counts(spark):
    df = _events(spark)
    out = windowed_counts(
        df, "ts", ["kind"], window_sec=60, success_pred=F.col("v") > 4.0
    )
    rows = {(str(r["window_start"]), r["kind"]): r for r in out.collect()}
    r = rows[("2024-01-01 00:00:00", "a")]
    assert r["total"] == 40
    # percent, not fraction (measure.rs test_suc_rate_normal: 7/10 -> 70.0)
    assert r["suc_rate"] == round(r["success"] / r["total"] * 100, 4)
    assert r["speed"] == round(r["total"] / 60, 4)


def test_top_n_cap(spark):
    """Report retention = top_n * TOP_N_MULTIPLIER(=2), sorted by total
    desc (collector/mod.rs:18,155 + stat_report.rs:14,148,
    test_top_n_multiplier): top_n=1 keeps BOTH dims here; the 2x set is
    what the reference emits. retain_multiplier=1 gives the exact cut."""
    df = _events(spark)
    out = windowed_counts(df, "ts", ["kind"], window_sec=60, top_n=1)
    per_window = out.groupBy("window_start").count().collect()
    assert per_window and all(r["count"] == 2 for r in per_window)
    # the retained rows are rank-ordered by total desc: rank 1 is the
    # bigger dim ('a' = 2 of every 3 events)
    top = {r["window_start"]: r["kind"] for r in out.collect() if r["rank"] == 1}
    assert set(top.values()) == {"a"}
    exact = windowed_counts(
        df, "ts", ["kind"], window_sec=60, top_n=1, retain_multiplier=1
    )
    per_window = exact.groupBy("window_start").count().collect()
    assert all(r["count"] == 1 for r in per_window)


def test_alert(spark):
    df = _events(spark)
    stats = windowed_counts(df, "ts", ["kind"], window_sec=60)
    fired = alert(stats, "total", 35, ">=").collect()
    assert fired and all(r["total"] >= 35 for r in fired)
    assert "total >= 35" in fired[0]["alert"]


def test_streaming_windowed_counts(spark, tmp_path):
    df = _events(spark)
    src = str(tmp_path / "in")
    df.select(F.col("ts").cast("string"), "kind", "v").write.json(src)
    stream = (
        spark.readStream.schema("ts string, kind string, v double")
        .json(src)
        .select(F.col("ts").cast("timestamp").alias("ts"), "kind", "v")
    )
    out = streaming_windowed_counts(stream, "ts", ["kind"], 60, watermark_sec=30)
    q = (
        out.writeStream.format("memory")
        .queryName("statsout")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from statsout").collect()
        got = {(str(r["window_start"]), r["kind"]): r["total"] for r in rows}
        assert got[("2024-01-01 00:00:00", "a")] == 40
        assert got[("2024-01-01 00:01:00", "b")] == 20
    finally:
        q.stop()


def test_pipeline_monitor(spark):
    from wp_motor_spark.pipeline import Pipeline

    pipe = Pipeline(wpl=example_simple("parse.wpl"))
    good = example_simple("sample.dat").strip()
    raw = spark.createDataFrame([(good,), ("garbage ???",), ("",)], ["value"])
    rows = {(r["rule"], r["disposition"]): r["total"] for r in pipe.monitor(raw).collect()}
    assert rows[("/example/simple/nginx", "success")] == 1
    assert rows[("<none>", "miss")] == 1
    assert rows[("<none>", "blank")] == 1


def test_metrics_listener(spark, tmp_path):
    """Streaming progress -> Prometheus exposition (the monitor/prometheus
    sink role)."""
    from wp_motor_spark.sinks import metrics

    listener = metrics.attach(spark)
    try:
        src = str(tmp_path / "in")
        spark.range(100).selectExpr("cast(id as string) as value").write.text(src)
        q = (
            spark.readStream.schema("value string").text(src)
            .writeStream.format("noop").queryName("metrics_probe").start()
        )
        q.processAllAvailable()
        q.stop()
        # listener delivery is async — poll briefly
        import time as _t

        for _ in range(20):
            if listener.progress:
                break
            _t.sleep(0.25)
        assert listener.progress, "no progress events received"
        text = listener.prometheus_text()
        assert 'wp_num_input_rows{query="metrics_probe"}' in text
        out = tmp_path / "metrics.prom"
        listener.write_exposition(str(out))
        assert out.read_text().startswith("# TYPE")
    finally:
        spark.streams.removeListener(listener)


def test_stat_target_matching():
    """wp-stats model/request.rs (11 tests): StatTarget::All matches any
    rule, Ignore matches none, Item matches exactly; the data-display and
    constructor tests are accessor plumbing with no engine surface."""
    from wp_motor_spark.operators.stats import match_stat_target

    assert match_stat_target("all", "any_target")
    assert match_stat_target("all", "another_target")
    assert not match_stat_target("ignore", "any_target")
    assert not match_stat_target("ignore", "another_target")
    assert match_stat_target("specific", "specific")
    assert not match_stat_target("specific", "other")
    assert match_stat_target("*", "legacy_glob_default")
