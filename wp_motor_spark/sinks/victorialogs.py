"""VictoriaLogs sink (reference: docs/usage/en/05-connectors/02-sinks/
16-victorialogs.md): each record POSTs as a JSON line to
``{endpoint}{insert_path}`` with two special fields —

- ``_msg``: the formatted message (fmt applied upstream by format_lines)
- ``_time``: nanosecond timestamp, preferring the record's
  ``create_time_field`` when present and time-typed, else current UTC

Contract pinned by the doc: endpoint required (validation error when
empty), 5 s HTTP timeout, JSON-line body. Spark shape: the JSON lines
are built JVM-side (to_json over a struct — no Python in the row path);
delivery is a per-partition HTTP POST of newline-joined batches in one
`mapPartitions(...).sum()` job, so N partitions POST in parallel, nothing
funnels through the driver, and the delivered count needs no second job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

BATCH_LINES = 10_000  # lines per POST body


def victorialogs_payload(
    lines: DataFrame, create_time_col: str | None = None
) -> DataFrame:
    """Formatted lines -> one JSON-line string column (`payload`)."""
    ts = None
    if create_time_col and create_time_col in lines.columns:
        ts = (
            F.col(create_time_col)
            .cast("timestamp")
            .cast("double")
            .cast("decimal(30,9)")
            * 1_000_000_000
        ).cast("long")
    # Fallback _time: current_timestamp() is Spark's QUERY-start time, so
    # all rows of one batch/micro-batch share a single timestamp (vs the
    # reference's per-record clock read). Acceptable — _time then marks
    # ingest batch time; pass create_time_col for true per-record times.
    time_ns = F.coalesce(
        *( [ts] if ts is not None else [] ),
        (F.unix_micros(F.current_timestamp()) * 1000).cast("long"),
    )
    return lines.select(
        F.to_json(
            F.struct(
                F.col("line").alias("_msg"),
                time_ns.alias("_time"),
            )
        ).alias("payload")
    )


def write_victorialogs(
    lines: DataFrame,
    endpoint: str,
    insert_path: str = "/insert/json",
    create_time_col: str | None = None,
    timeout: float = 5.0,
) -> int:
    """POST the lines to VictoriaLogs, batched per partition. Returns the
    number of lines posted."""
    if not endpoint:
        raise ValueError("victorialogs sink: endpoint must not be empty")
    url = endpoint.rstrip("/") + insert_path

    payload = victorialogs_payload(lines, create_time_col)

    def post_partition(rows):
        import urllib.request

        buf: list[str] = []
        n = 0

        def flush() -> None:
            if not buf:
                return
            body = ("\n".join(buf) + "\n").encode("utf-8")
            req = urllib.request.Request(
                url,
                data=body,
                headers={"Content-Type": "application/stream+json"},
                method="POST",
            )
            urllib.request.urlopen(req, timeout=timeout).read()
            buf.clear()

        for r in rows:
            buf.append(r["payload"])
            n += 1
            if len(buf) >= BATCH_LINES:
                flush()
        flush()
        yield n

    return payload.rdd.mapPartitions(post_partition).sum()
