"""Network sink backends: TCP (framed) and syslog (UDP/TCP) writers.

Reference: src/sinks/backends/{tcp.rs,syslog.rs} + the RFC3164 encoder
(src/protocol/syslog/encoder.rs:36-48).

Shape: one `mapPartitions(send).sum()` job — each executor task opens one
connection, streams its partition and yields the number of rows it sent
(the Spark analog of the reference's per-sink connection pool; N
partitions = N concurrent connections). The writers return that sum, so
the delivered count costs no second job. Used directly for batch, and from
foreachBatch for streaming.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from wp_motor_spark.sources.syslog import encode_rfc3164


def write_tcp(
    lines: DataFrame,
    host: str,
    port: int,
    framing: str = "newline",  # newline | octet (RFC6587 octet counting)
    col: str = "line",
) -> int:
    """Send one frame per row over TCP; one connection per partition.
    Returns the number of frames sent."""

    def send(rows):
        import socket

        sock = None
        n = 0
        try:
            for r in rows:
                if sock is None:  # connect lazily: skip empty partitions
                    sock = socket.create_connection((host, port), timeout=10)
                msg = (r[col] or "").encode("utf-8")
                if framing == "octet":
                    sock.sendall(str(len(msg)).encode() + b" " + msg)
                else:
                    sock.sendall(msg + b"\n")
                n += 1
        finally:
            if sock is not None:
                sock.close()
        yield n

    return lines.rdd.mapPartitions(send).sum()


def write_syslog(
    lines: DataFrame,
    host: str,
    port: int,
    proto: str = "udp",
    col: str = "line",
) -> int:
    """Send rows as syslog datagrams/frames. Rows should already be
    RFC3164-encoded (see `syslog_lines`); raw lines pass through as-is.
    Returns the number of messages sent."""
    if proto == "tcp":
        return write_tcp(lines, host, port, framing="newline", col=col)

    def send(rows):
        import socket

        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        n = 0
        try:
            for r in rows:
                sock.sendto((r[col] or "").encode("utf-8"), (host, port))
                n += 1
        finally:
            sock.close()
        yield n

    return lines.rdd.mapPartitions(send).sum()


def syslog_lines(
    df: DataFrame,
    msg: Column,
    pri: Column | None = None,
    host: Column | None = None,
    app: Column | None = None,
    ts: Column | None = None,
) -> DataFrame:
    """Project a record DataFrame to RFC3164 `line`s for write_syslog."""
    return df.select(
        encode_rfc3164(
            pri if pri is not None else F.lit(13),
            ts if ts is not None else F.lit(None),
            host if host is not None else F.lit(None),
            app if app is not None else F.lit(None),
            msg,
        ).alias("line")
    )
